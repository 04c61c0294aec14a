"""Seeded input generators: relational tables, RDF corpora, query and update
streams.

Everything here is a pure function of its seed and size arguments and uses
no engine code: the corpora are written by this module's own N-Triples and
RDF/XML writers, so a defect in the engine's exporters cannot leak into the
inputs of its loaders.

The graph is the one ``rippledb_spark.queries.triples.TRIPLES_CTE`` derives
from TPC-H-shaped tables; the ingest corpus takes its rows from the oracle's
evaluation of that CTE, so the corpus and the derived store describe the
same graph.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
NATION_REGION = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3, 4, 2, 3, 3, 1]

EX = "http://rdfbench.example/p#"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

NAMED, BLANK, LITERAL, LANG, TYPED = (
    "named", "blank", "literal", "lang_literal", "typed_literal",
)


def _row(s, p, o, o_kind=NAMED, s_kind=NAMED, lang=None, dtype=None) -> tuple:
    return (s, s_kind, p, o, o_kind, lang, dtype)


# ---------------------------------------------------------------------------
# Relational tables
# ---------------------------------------------------------------------------


@dataclass
class Tables:
    """TPC-H-shaped columns, only those ``derive_triples`` reads."""

    orders: dict
    lineitem: dict
    customer: dict
    supplier: dict
    nation: dict

    def write(self, out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for name in ("orders", "lineitem", "customer", "supplier", "nation"):
            pq.write_table(pa.table(getattr(self, name)), f"{out_dir}/{name}.parquet")


def make_tables(seed: int, n_orders: int) -> Tables:
    """Orders with 1-7 line items each; customers, parts and suppliers
    scale with the order count like TPC-H (10, 7.5 and 150 orders each)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, n_orders // 10)
    n_part = max(10, n_orders * 2 // 15)
    n_supp = max(5, n_orders // 150)
    okeys = np.arange(1, n_orders + 1, dtype=np.int64)
    ocust = rng.integers(1, n_cust + 1, n_orders, dtype=np.int64)
    status = rng.choice(np.array(["O", "F", "P"]), n_orders, p=[0.49, 0.49, 0.02])
    prio = rng.choice(np.array(PRIORITIES), n_orders)
    lines = rng.integers(1, 8, n_orders)
    lkeys = np.repeat(okeys, lines)
    lparts = rng.integers(1, n_part + 1, len(lkeys), dtype=np.int64)
    return Tables(
        orders={
            "o_orderkey": okeys,
            "o_custkey": ocust,
            "o_orderstatus": status.tolist(),
            "o_orderpriority": prio.tolist(),
        },
        lineitem={"l_orderkey": lkeys, "l_partkey": lparts},
        customer={
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int64),
            "c_mktsegment": rng.choice(np.array(SEGMENTS), n_cust).tolist(),
            "c_name": [f"Customer#{k:09d}" for k in range(1, n_cust + 1)],
        },
        supplier={
            "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int64),
        },
        nation={
            "n_nationkey": np.arange(25, dtype=np.int64),
            "n_regionkey": np.array(NATION_REGION, dtype=np.int64),
            "n_name": list(NATIONS),
        },
    )


def part_rows(first: int, count: int, seed: int) -> list[tuple]:
    """Five triples per part covering the node kinds the derived graph
    lacks: plain, lang-tagged and typed literals and a blank node."""
    rng = np.random.default_rng(seed)
    sizes = rng.integers(1, 51, count).tolist()
    widths = rng.integers(1, 500, count).tolist()
    brands = rng.integers(1, 60, count).tolist()
    rows = []
    for i in range(count):
        k = first + i
        part, dims = f"part:{k}", f"_:d{k}"
        rows += [
            _row(part, EX + "brand", f"Brand#{brands[i]}", LITERAL),
            _row(part, EX + "label", f"part {k}", LANG, lang="en"),
            _row(part, EX + "size", str(sizes[i]), TYPED, dtype=XSD_INT),
            _row(part, EX + "dims", dims, BLANK),
            _row(dims, EX + "width", str(widths[i]), TYPED, s_kind=BLANK, dtype=XSD_INT),
        ]
    return rows


# ---------------------------------------------------------------------------
# Corpus writers (independent of rippledb_spark.sources)
# ---------------------------------------------------------------------------


def _nt_term(value: str, kind: str, lang: str | None, dtype: str | None) -> str:
    if kind == NAMED:
        return f"<{value}>"
    if kind == BLANK:
        return value
    text = '"' + value.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if kind == LANG:
        return f"{text}@{lang}"
    if kind == TYPED:
        return f"{text}^^<{dtype}>"
    return text


def nt_line(r: tuple) -> str:
    s, s_kind, p, o, o_kind, lang, dtype = r
    subj = f"<{s}>" if s_kind == NAMED else s
    return f"{subj} <{p}> {_nt_term(o, o_kind, lang, dtype)} .\n"


def write_ntriples(rows: list[tuple], out_dir: str, n_files: int, seed: int,
                   dup_share: float = 0.01) -> None:
    """Shuffle ``rows`` into ``n_files`` files, repeating ``dup_share`` of
    them so the loader's set semantics has duplicates to drop."""
    rng = np.random.default_rng(seed)
    dups = rng.choice(len(rows), int(len(rows) * dup_share), replace=False)
    order = rng.permutation(np.concatenate([np.arange(len(rows)), dups]))
    os.makedirs(out_dir, exist_ok=True)
    for f, chunk in enumerate(np.array_split(order, n_files)):
        with open(f"{out_dir}/part-{f:03d}.nt", "w", encoding="utf-8") as fh:
            fh.writelines(nt_line(rows[i]) for i in chunk.tolist())


def _xml(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")


def rdfxml_document(rows: list[tuple]) -> str:
    """One RDF/XML document, one rdf:Description per subject. Predicates
    must live in the ``EX`` namespace (RDF/XML needs a QName)."""
    by_subject: dict[tuple, list[tuple]] = {}
    for r in rows:
        by_subject.setdefault((r[0], r[1]), []).append(r)
    out = [
        '<?xml version="1.0" encoding="utf-8"?>\n',
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        f'xmlns:ex="{EX}">\n',
    ]
    for (s, s_kind), props in by_subject.items():
        ident = f'rdf:about="{_xml(s)}"' if s_kind == NAMED else f'rdf:nodeID="{s[2:]}"'
        out.append(f"  <rdf:Description {ident}>\n")
        for _, _, p, o, kind, lang, dtype in props:
            tag = "ex:" + p[len(EX):]
            if kind == NAMED:
                out.append(f'    <{tag} rdf:resource="{_xml(o)}"/>\n')
            elif kind == BLANK:
                out.append(f'    <{tag} rdf:nodeID="{o[2:]}"/>\n')
            elif kind == LANG:
                out.append(f'    <{tag} xml:lang="{lang}">{_xml(o)}</{tag}>\n')
            elif kind == TYPED:
                out.append(f'    <{tag} rdf:datatype="{dtype}">{_xml(o)}</{tag}>\n')
            else:
                out.append(f"    <{tag}>{_xml(o)}</{tag}>\n")
        out.append("  </rdf:Description>\n")
    out.append("</rdf:RDF>\n")
    return "".join(out)


def write_rdfxml(rows: list[tuple], out_dir: str, n_files: int) -> None:
    """Split ``rows`` into ``n_files`` documents on subject boundaries of
    five rows (one part each), so no description spans two files."""
    os.makedirs(out_dir, exist_ok=True)
    n_parts = len(rows) // 5
    for f, idx in enumerate(np.array_split(np.arange(n_parts), n_files)):
        chunk = [r for i in idx.tolist() for r in rows[5 * i: 5 * i + 5]]
        with open(f"{out_dir}/part-{f:03d}.rdf", "w", encoding="utf-8") as fh:
            fh.write(rdfxml_document(chunk))


# ---------------------------------------------------------------------------
# Query stream
# ---------------------------------------------------------------------------

TEMPLATES = ("lookup", "star", "chain", "optional", "path", "group")
JOIN_TEMPLATES = ("star", "chain", "optional")
# one round of the query stream: every template, a second subject lookup,
# the commonest and cheapest query, and a second path query, the slowest,
# so lookup_p50_s and path_p50_s have twice the samples and read_p90_s
# falls inside the path queries' spread rather than at its tail
ROUND = TEMPLATES + ("lookup", "path")


def _zipf_pick(rng, n: int, count: int, a: float = 1.3) -> np.ndarray:
    """``count`` ranks in [0, n), Zipf-skewed so the first ranks repeat."""
    ranks = rng.zipf(a, count * 2)
    ranks = ranks[ranks <= n][:count]
    while len(ranks) < count:
        more = rng.zipf(a, count)
        ranks = np.concatenate([ranks, more[more <= n]])[:count]
    return ranks - 1


def query_text(template: str, arg) -> str:
    if template == "lookup":
        return f"SELECT ?p ?o WHERE {{ {arg} ?p ?o }}"
    if template == "star":
        return (
            f"SELECT ?o ?st ?pr WHERE {{ ?o placed_by customer:{arg} . "
            "?o has_status ?st . ?o has_priority ?pr }"
        )
    if template == "chain":
        return (
            f"SELECT ?o ?n WHERE {{ ?o contains_part part:{arg} . "
            "?o placed_by ?c . ?c in_nation ?n }"
        )
    if template == "optional":
        return (
            f"SELECT ?c ?o WHERE {{ ?c in_nation nation:{arg} . "
            "OPTIONAL { ?o placed_by ?c } }"
        )
    if template == "path":
        return f"SELECT ?r WHERE {{ order:{arg} placed_by/in_nation/in_region ?r }}"
    if template == "group":
        return (
            f"SELECT ?n (COUNT(?c) AS ?k) WHERE {{ ?c in_segment segment:{arg} . "
            "?c in_nation ?n } GROUP BY ?n"
        )
    raise ValueError(template)


def query_sql(template: str, arg) -> str:
    """DuckDB form of :func:`query_text` over a ``triples`` table, under
    the engine's rules: a bound term matches named nodes only, variables
    bind node values, joins keep bag semantics."""
    if template == "lookup":
        return f"SELECT p, o_value FROM triples WHERE s = '{arg}' AND s_kind = 'named'"
    if template == "star":
        return (
            "SELECT a.s, b.o_value, c.o_value FROM triples a "
            "JOIN triples b ON b.s = a.s AND b.p = 'has_status' "
            "JOIN triples c ON c.s = a.s AND c.p = 'has_priority' "
            f"WHERE a.p = 'placed_by' AND a.o_value = 'customer:{arg}' AND a.o_kind = 'named'"
        )
    if template == "chain":
        return (
            "SELECT a.s, c.o_value FROM triples a "
            "JOIN triples b ON b.s = a.s AND b.p = 'placed_by' "
            "JOIN triples c ON c.s = b.o_value AND c.p = 'in_nation' "
            f"WHERE a.p = 'contains_part' AND a.o_value = 'part:{arg}' AND a.o_kind = 'named'"
        )
    if template == "optional":
        return (
            "SELECT a.s, b.s FROM triples a "
            "LEFT JOIN triples b ON b.p = 'placed_by' AND b.o_value = a.s "
            f"WHERE a.p = 'in_nation' AND a.o_value = 'nation:{arg}' AND a.o_kind = 'named'"
        )
    if template == "path":
        # a bound path end must name a node: a subject, or a named object
        node = f"order:{arg}"
        return (
            "SELECT c.o_value FROM triples a "
            "JOIN triples b ON b.s = a.o_value AND b.p = 'in_nation' "
            "JOIN triples c ON c.s = b.o_value AND c.p = 'in_region' "
            f"WHERE a.s = '{node}' AND a.p = 'placed_by' AND EXISTS ("
            f"SELECT 1 FROM triples g WHERE g.s = '{node}' "
            f"OR (g.o_value = '{node}' AND g.o_kind = 'named'))"
        )
    if template == "group":
        return (
            "SELECT b.o_value, COUNT(a.s) FROM triples a "
            "JOIN triples b ON b.s = a.s AND b.p = 'in_nation' "
            f"WHERE a.p = 'in_segment' AND a.o_value = 'segment:{arg}' "
            "AND a.o_kind = 'named' GROUP BY b.o_value"
        )
    raise ValueError(template)


@dataclass(frozen=True)
class Query:
    template: str
    text: str
    sql: str


def make_query(template: str, arg) -> Query:
    return Query(template, query_text(template, arg), query_sql(template, arg))


def query_stream(seed: int, t: Tables, count: int) -> list[Query]:
    """``count`` queries in rounds of :data:`ROUND` (in a seeded order per
    round), so every prefix of whole rounds has the same template mix
    whatever the seed. Constants are Zipf-skewed over a seeded
    permutation of each domain: hot keys differ by seed, and some query
    texts repeat."""
    rng = np.random.default_rng(seed)
    domains = {
        "lookup": [f"order:{k}" for k in rng.permutation(t.orders["o_orderkey"]).tolist()],
        "star": rng.permutation(t.customer["c_custkey"]).tolist(),
        "chain": rng.permutation(np.unique(t.lineitem["l_partkey"])).tolist(),
        "optional": rng.permutation(25).tolist(),
        "path": rng.permutation(t.orders["o_orderkey"]).tolist(),
        "group": rng.permutation(np.array(SEGMENTS)).tolist(),
    }
    rounds = -(-count // len(ROUND))
    ranks = {
        tpl: iter(_zipf_pick(rng, len(dom), rounds * ROUND.count(tpl)).tolist())
        for tpl, dom in domains.items()
    }
    out = []
    for _ in range(rounds):
        for i in rng.permutation(len(ROUND)).tolist():
            tpl = ROUND[i]
            out.append(make_query(tpl, domains[tpl][next(ranks[tpl])]))
    return out[:count]


def repeat_share(queries: list[Query]) -> float:
    """Share of queries whose exact text was already sent earlier."""
    seen: set[str] = set()
    repeats = 0
    for q in queries:
        repeats += q.text in seen
        seen.add(q.text)
    return repeats / len(queries) if queries else 0.0


# ---------------------------------------------------------------------------
# Update chains
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Step:
    """One update, the SQL that applies it to the oracle's ``triples``
    table, and the read-after-write query that must observe it."""

    form: str
    text: str
    sql: tuple[str, ...]
    read: Query


_ROW_KEY = "s, s_kind, p, o_value, o_kind, o_lang, o_datatype"


def _lit(v: str | None) -> str:
    return "NULL" if v is None else "'" + v.replace("'", "''") + "'"


def _insert_sql(rows: list[tuple]) -> str:
    values = ", ".join("(" + ", ".join(_lit(v) for v in r) + ")" for r in rows)
    return (
        f"INSERT INTO triples SELECT * FROM (VALUES {values}) v({_ROW_KEY}) "
        f"EXCEPT SELECT {_ROW_KEY} FROM triples"
    )


def _delete_rows_sql(rows: list[tuple]) -> str:
    conds = []
    for r in rows:
        parts = [
            f"{c} IS NOT DISTINCT FROM {_lit(v)}"
            for c, v in zip(_ROW_KEY.split(", "), r)
        ]
        conds.append("(" + " AND ".join(parts) + ")")
    return "DELETE FROM triples WHERE " + " OR ".join(conds)


UPDATE_FORMS = ("insert_data", "delete_data", "delete_where", "modify")


def update_chain(seed: int, t: Tables, forms: tuple[str, ...] = UPDATE_FORMS) -> list[Step]:
    """One step per name in ``forms`` (INSERT DATA, DELETE DATA, DELETE
    WHERE, DELETE/INSERT WHERE), in that order, with seeded constants.
    Every WHERE group has one pattern; see NOTES.md for why. The reads
    after the DATA forms and after DELETE/INSERT WHERE are subject
    lookups: a lookup plans the snapshot's lineage once, where a star or
    path query would plan it per pattern."""
    rng = np.random.default_rng(seed)
    o = t.orders
    n_orders = len(o["o_orderkey"])
    new_key = int(o["o_orderkey"].max()) + 1 + int(rng.integers(0, 1000))
    cust = int(rng.integers(1, len(t.customer["c_custkey"]) + 1))
    # a SPARQL bare term cannot hold the space in "4-NOT SPECIFIED"
    spelled = [p for p in PRIORITIES if " " not in p]
    prio = spelled[int(rng.integers(0, len(spelled)))]
    i_del = int(rng.integers(0, n_orders))
    while " " in o["o_orderpriority"][i_del]:
        i_del = (i_del + 1) % n_orders
    k_del = int(o["o_orderkey"][i_del])
    p_del = o["o_orderpriority"][i_del]
    c_dw = int(o["o_custkey"][int(rng.integers(0, n_orders))])
    c_mod = int(rng.integers(0, len(t.customer["c_custkey"])))
    seg_from = t.customer["c_mktsegment"][c_mod]
    seg_to = SEGMENTS[(SEGMENTS.index(seg_from) + 1 + int(rng.integers(0, 4))) % 5]

    ins = [
        _row(f"order:{new_key}", "placed_by", f"customer:{cust}"),
        _row(f"order:{new_key}", "has_priority", f"priority:{prio}"),
        _row(f"order:{new_key}", "has_status", "O", LITERAL),
    ]
    dele = [_row(f"order:{k_del}", "has_priority", f"priority:{p_del}")]
    steps = [
        Step(
            "insert_data",
            f"INSERT DATA {{ order:{new_key} placed_by customer:{cust} . "
            f"order:{new_key} has_priority priority:{prio} . "
            f'order:{new_key} has_status "O" }}',
            (_insert_sql(ins),),
            make_query("lookup", f"order:{new_key}"),
        ),
        Step(
            "delete_data",
            f"DELETE DATA {{ order:{k_del} has_priority priority:{p_del} }}",
            (_delete_rows_sql(dele),),
            make_query("lookup", f"order:{k_del}"),
        ),
        Step(
            "delete_where",
            f"DELETE WHERE {{ ?o placed_by customer:{c_dw} }}",
            (
                "DELETE FROM triples WHERE p = 'placed_by' "
                f"AND o_value = 'customer:{c_dw}' AND o_kind = 'named'",
            ),
            make_query("star", c_dw),
        ),
        Step(
            "modify",
            f"DELETE {{ ?c in_segment segment:{seg_from} }} "
            f"INSERT {{ ?c in_segment segment:{seg_to} }} "
            f"WHERE {{ ?c in_segment segment:{seg_from} }}",
            (
                "CREATE OR REPLACE TEMP TABLE sol AS SELECT DISTINCT s FROM triples "
                f"WHERE p = 'in_segment' AND o_value = 'segment:{seg_from}' AND o_kind = 'named'",
                "DELETE FROM triples WHERE p = 'in_segment' "
                f"AND o_value = 'segment:{seg_from}' AND s IN (SELECT s FROM sol)",
                f"INSERT INTO triples SELECT s, 'named', 'in_segment', 'segment:{seg_to}', "
                f"'named', NULL, NULL FROM sol EXCEPT SELECT {_ROW_KEY} FROM triples",
            ),
            make_query("lookup", f"customer:{int(t.customer['c_custkey'][c_mod])}"),
        ),
    ]
    by_form = {step.form: step for step in steps}
    return [by_form[f] for f in forms]
