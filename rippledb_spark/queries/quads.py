"""Dataset-tier certified queries: named graphs over a QuadStore
(quadstore.py, plans/graphs.py, plans/update.py quads mode,
sources/nquads.py), oracle-checked against DuckDB on a quads CTE derived
from the relational testdata in lock-step with the Spark derivation.

Dataset shape (mirrors the triples graph of queries/triples.py, sliced
into named graphs by entity family — the natural multi-tenant layout a
dataset user would choose):

    default graph:       nation --in_region--> region
                         nation --has_name--> "ASIA..." (literal)
    graph:customers      customer --in_nation--> nation
                         customer --in_segment--> segment:{s}
    graph:suppliers      supplier --in_nation--> nation
    graph:orders         order --placed_by--> customer
                         order --has_priority--> priority:{p}

The reference is single-graph (src/datastore/graph.rs — no graph
dimension), so this whole family is engine-tier.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rippledb_spark.operators._itergc import pin_persisted
from rippledb_spark.quadstore import QuadStore
from rippledb_spark.registry import query
from rippledb_spark.tables import load

QUADS_CTE = """
quads AS (
  SELECT CAST(NULL AS VARCHAR) AS g,
         'nation:' || CAST(n_nationkey AS VARCHAR) AS s, 'named' AS s_kind,
         'in_region' AS p,
         'region:' || CAST(n_regionkey AS VARCHAR) AS o_value, 'named' AS o_kind,
         CAST(NULL AS VARCHAR) AS o_lang, CAST(NULL AS VARCHAR) AS o_datatype
  FROM nation
  UNION ALL
  SELECT CAST(NULL AS VARCHAR), 'nation:' || CAST(n_nationkey AS VARCHAR), 'named',
         'has_name', n_name, 'literal', NULL, NULL
  FROM nation
  UNION ALL
  SELECT 'graph:customers', 'customer:' || CAST(c_custkey AS VARCHAR), 'named',
         'in_nation', 'nation:' || CAST(c_nationkey AS VARCHAR), 'named', NULL, NULL
  FROM customer
  UNION ALL
  SELECT 'graph:customers', 'customer:' || CAST(c_custkey AS VARCHAR), 'named',
         'in_segment', 'segment:' || c_mktsegment, 'named', NULL, NULL
  FROM customer
  UNION ALL
  SELECT 'graph:suppliers', 'supplier:' || CAST(s_suppkey AS VARCHAR), 'named',
         'in_nation', 'nation:' || CAST(s_nationkey AS VARCHAR), 'named', NULL, NULL
  FROM supplier
  UNION ALL
  SELECT 'graph:orders', 'order:' || CAST(o_orderkey AS VARCHAR), 'named',
         'placed_by', 'customer:' || CAST(o_custkey AS VARCHAR), 'named', NULL, NULL
  FROM orders
  UNION ALL
  SELECT 'graph:orders', 'order:' || CAST(o_orderkey AS VARCHAR), 'named',
         'has_priority', 'priority:' || o_orderpriority, 'named', NULL, NULL
  FROM orders
  UNION ALL
  SELECT 'graph:geo', 'nation:' || CAST(n_nationkey AS VARCHAR), 'named',
         'within', 'region:' || CAST(n_regionkey AS VARCHAR), 'named', NULL, NULL
  FROM nation
  UNION ALL
  SELECT 'graph:geo', 'region:' || CAST(r_regionkey AS VARCHAR), 'named',
         'within', 'zone:' || CAST(r_regionkey % 2 AS VARCHAR), 'named', NULL, NULL
  FROM region
)
"""


def _tag(prefix: str, col: str):
    return F.concat(F.lit(prefix + ":"), F.col(col).cast("string"))


def derive_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of QUADS_CTE — one scan per source table, predicate
    pairs emitted via an inline struct array (the derive_triples shape:
    N quads per row from ONE scan, not N scans)."""
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    r = load(spark, sf_dir, "region")
    null_s = F.lit(None).cast("string")

    def edges(df, g, subj, pairs):
        structs = [
            F.struct(F.lit(p).alias("p"), oc.alias("o_value"), F.lit(k).alias("o_kind"))
            for p, oc, k in pairs
        ]
        return df.select(
            (F.lit(g).cast("string")).alias("g"),
            subj.alias("s"),
            F.explode(F.array(*structs)).alias("e"),
        ).select(
            "g",
            "s",
            F.lit("named").alias("s_kind"),
            F.col("e.p").alias("p"),
            F.col("e.o_value").alias("o_value"),
            F.col("e.o_kind").alias("o_kind"),
            null_s.alias("o_lang"),
            null_s.alias("o_datatype"),
        )

    parts = [
        edges(
            n,
            None,
            _tag("nation", "n_nationkey"),
            [
                ("in_region", _tag("region", "n_regionkey"), "named"),
                ("has_name", F.col("n_name"), "literal"),
            ],
        ),
        edges(
            c,
            "graph:customers",
            _tag("customer", "c_custkey"),
            [
                ("in_nation", _tag("nation", "c_nationkey"), "named"),
                ("in_segment", F.concat(F.lit("segment:"), F.col("c_mktsegment")), "named"),
            ],
        ),
        edges(
            s,
            "graph:suppliers",
            _tag("supplier", "s_suppkey"),
            [("in_nation", _tag("nation", "s_nationkey"), "named")],
        ),
        edges(
            o,
            "graph:orders",
            _tag("order", "o_orderkey"),
            [
                ("placed_by", _tag("customer", "o_custkey"), "named"),
                ("has_priority", F.concat(F.lit("priority:"), F.col("o_orderpriority")), "named"),
            ],
        ),
        # graph:geo — a 2-level within-graph hierarchy (nation → region →
        # zone) so per-graph CLOSURES have something to close over
        edges(
            n,
            "graph:geo",
            _tag("nation", "n_nationkey"),
            [("within", _tag("region", "n_regionkey"), "named")],
        ),
        edges(
            r,
            "graph:geo",
            _tag("region", "r_regionkey"),
            [
                (
                    "within",
                    F.concat(F.lit("zone:"), (F.col("r_regionkey") % 2).cast("string")),
                    "named",
                )
            ],
        ),
    ]
    acc = parts[0]
    for pdf in parts[1:]:
        acc = acc.unionByName(pdf)
    return acc


_QSTORE_CACHE: dict[tuple[int, str], DataFrame] = {}


def _qstore(spark: SparkSession, sf_dir: str) -> QuadStore:
    """Cached, persisted dataset per (session, sf_dir) — same lifecycle
    as queries/triples._store: load cost is paid once, not per query.
    Derivation is duplicate-free by construction → plain constructor."""
    key = (id(spark), sf_dir)
    if key not in _QSTORE_CACHE:
        df = derive_quads(spark, sf_dir).persist()
        # Pin against the per-query block sweeps — see queries/triples.
        pin_persisted(spark, df)
        _QSTORE_CACHE[key] = df
    return QuadStore(spark, _QSTORE_CACHE[key])


@query(
    "quads_graph_stats",
    oracle=f"""
    WITH {QUADS_CTE.strip()}
    SELECT g, COUNT(*) AS n_quads,
           COUNT(DISTINCT s) AS n_subjects,
           COUNT(DISTINCT p) AS n_predicates
    FROM quads GROUP BY g ORDER BY g
    """,
)
def quads_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-graph dataset footprint (QuadStore.stats): one hash aggregate
    over the quads frame, default graph reported as NULL — the dataset
    twin of triples_stats (Q13 family)."""
    return _qstore(spark, sf_dir).stats().orderBy("g")


@query(
    "sparql_graph_var_membership",
    oracle=f"""
    WITH {QUADS_CTE.strip()}
    SELECT g, COUNT(*) AS n_members, COUNT(DISTINCT o_value) AS n_nations
    FROM quads WHERE p = 'in_nation' AND g IS NOT NULL
    GROUP BY g ORDER BY g
    """,
)
def sparql_graph_var_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH ?g as a distributed join dimension: membership counts per
    named graph through the text frontend — the graph variable is bound
    from the quads frame's label column inside ONE aggregation, no
    per-graph loop (plans/graphs.py:_var_graph_plan)."""
    return _qstore(spark, sf_dir).sparql(
        "SELECT ?g (COUNT(?m) AS ?n_members) (COUNT(DISTINCT ?n) AS ?n_nations) "
        "WHERE { GRAPH ?g { ?m in_nation ?n } } GROUP BY ?g ORDER BY ?g"
    )


@query(
    "sparql_graph_cross_default_join",
    oracle=f"""
    WITH {QUADS_CTE.strip()}
    SELECT geo.o_value AS r, COUNT(*) AS n_customers
    FROM quads geo
    JOIN quads mem ON mem.o_value = geo.s
    WHERE geo.g IS NULL AND geo.p = 'in_region'
      AND mem.g = 'graph:customers' AND mem.p = 'in_nation'
    GROUP BY geo.o_value ORDER BY r
    """,
)
def sparql_graph_cross_default_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-graph join: default-graph geography × one named graph's
    membership (GRAPH <iri> scope = equality filter + the ordinary BGP
    machinery), aggregated per region."""
    return _qstore(spark, sf_dir).sparql(
        "SELECT ?r (COUNT(?m) AS ?n_customers) WHERE { "
        "  ?n in_region ?r . "
        "  GRAPH <graph:customers> { ?m in_nation ?n } "
        "} GROUP BY ?r ORDER BY ?r"
    )


@query(
    "sparql_from_merge_members",
    oracle=f"""
    WITH {QUADS_CTE.strip()}
    SELECT o_value AS n, COUNT(*) AS n_members
    FROM quads
    WHERE g IN ('graph:customers', 'graph:suppliers') AND p = 'in_nation'
    GROUP BY o_value ORDER BY n
    """,
)
def sparql_from_merge_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROM dataset merge (§13.2): two named graphs merged into the
    query's default graph, then a plain pattern + aggregate. The RDF
    merge is a set union — customer/supplier subjects are disjoint here,
    so the SQL twin is the un-deduped union filtered to the predicate."""
    return _qstore(spark, sf_dir).sparql(
        "SELECT ?n (COUNT(?m) AS ?n_members) "
        "FROM <graph:customers> FROM <graph:suppliers> "
        "WHERE { ?m in_nation ?n } GROUP BY ?n ORDER BY ?n"
    )


@query(
    "update_graph_scoped_accounting",
    oracle=f"""
    WITH {QUADS_CTE.strip()},
    after AS (
      SELECT * FROM quads
      WHERE NOT (g = 'graph:customers' AND p = 'in_segment')
      UNION ALL
      SELECT 'graph:members', s, s_kind, p, o_value, o_kind, o_lang, o_datatype
      FROM quads WHERE g = 'graph:suppliers'
    )
    SELECT g, COUNT(*) AS n_quads FROM after GROUP BY g ORDER BY g
    """,
)
def update_graph_scoped_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-scoped SPARQL Update pipeline: a WITH-scoped DELETE strips
    one predicate from one named graph (other graphs untouched), then ADD
    copies a graph under a new label — final per-graph accounting
    hash-checked against the SQL set-algebra twin. Both updates are pure
    DataFrame rewrites over the label column (anti-join + retagged
    union), no per-graph loop."""
    qs = _qstore(spark, sf_dir)
    qs = qs.update(
        "WITH <graph:customers> DELETE { ?m in_segment ?s } "
        "WHERE { ?m in_segment ?s }"
    )
    qs = qs.update("ADD GRAPH <graph:suppliers> TO GRAPH <graph:members>")
    return qs.df.groupBy("g").agg(F.count(F.lit(1)).alias("n_quads")).orderBy("g")


@query(
    "sparql_graph_var_closure",
    oracle=f"""
    WITH RECURSIVE {QUADS_CTE.strip()},
    e AS (SELECT g, s AS x, o_value AS y FROM quads WHERE p = 'within'),
    cl AS (
      SELECT g, x, y FROM e
      UNION
      SELECT c.g, c.x, e.y FROM cl c JOIN e ON c.g = e.g AND c.y = e.x
    )
    SELECT g, x, y FROM cl ORDER BY g, x, y
    """,
)
def sparql_graph_var_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-graph transitive closure under a graph VARIABLE: the
    graph-tagged fixpoint (plans/graphs.py:_var_graph_path_plan — one
    semi-naive run computes every graph's closure; tagging makes
    cross-graph steps impossible) hash-checked against a DuckDB
    recursive CTE that carries ``g`` through every recursion step."""
    return _qstore(spark, sf_dir).sparql(
        "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x within+ ?y } } "
        "ORDER BY ?g ?x ?y"
    )


@query(
    "sparql_optional_graph_members",
    oracle=f"""
    WITH {QUADS_CTE.strip()}
    SELECT geo.s AS n,
           CAST(COUNT(mem.s) AS BIGINT) AS n_customers
    FROM quads geo
    LEFT JOIN quads mem
      ON mem.o_value = geo.s AND mem.g = 'graph:customers' AND mem.p = 'in_nation'
    WHERE geo.g IS NULL AND geo.p = 'in_region'
    GROUP BY geo.s ORDER BY n
    """,
)
def sparql_optional_graph_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL { GRAPH <iri> { ... } }: default-graph nations LEFT-OUTER
    extended by one named graph's membership (nations with no customers
    survive as NULL rows — COUNT(?m) counts bound rows only), certifying
    the pre-lowered-group join path (plans/graphs.py:_lower_group)
    against the SQL LEFT JOIN twin."""
    return _qstore(spark, sf_dir).sparql(
        "SELECT ?n (COUNT(?m) AS ?n_customers) WHERE { "
        "  ?n in_region ?r . "
        "  OPTIONAL { GRAPH <graph:customers> { ?m in_nation ?n } } "
        "} GROUP BY ?n ORDER BY ?n"
    )


@query(
    "update_quad_template_audit",
    oracle=f"""
    WITH {QUADS_CTE.strip()},
    audit AS (
      SELECT DISTINCT 'graph:audit' AS g, s, g AS o_value
      FROM quads WHERE p = 'in_nation' AND g IS NOT NULL
    ),
    after AS (
      SELECT g, s, p, o_value FROM quads
      UNION ALL
      SELECT g, s, 'was_in', o_value FROM audit
    )
    SELECT g, COUNT(*) AS n_quads, COUNT(DISTINCT s) AS n_subjects
    FROM after GROUP BY g ORDER BY g
    """,
)
def update_quad_template_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quad-pattern INSERT template with a GRAPH VARIABLE binding: every
    named-graph membership row is re-materialized into an audit graph as
    ``?m was_in ?g`` (the template's object takes the WHERE's graph
    binding), then per-graph accounting is hash-checked. Certifies the
    quad-pattern modify end to end (plans/update.py's template
    instantiation + the dataset WHERE evaluation)."""
    qs = _qstore(spark, sf_dir).update(
        "INSERT { GRAPH <graph:audit> { ?m was_in ?g } } "
        "WHERE { GRAPH ?g { ?m in_nation ?n } }"
    )
    return (
        qs.df.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_quads"),
            F.countDistinct("s").alias("n_subjects"),
        )
        .orderBy("g")
    )


_NQ_ESC_SQL = (
    "replace(replace(replace(replace(replace(o_value,"
    " '\\', '\\\\'), '\"', '\\\"'), chr(10), '\\n'), chr(13), '\\r'),"
    " chr(9), '\\t')"
)

_NQ_LINE_SQL = f"""
    (CASE WHEN s_kind = 'named' THEN '<' || s || '>' ELSE s END)
    || ' <' || p || '> ' ||
    (CASE o_kind
       WHEN 'named' THEN '<' || o_value || '>'
       WHEN 'blank' THEN o_value
       WHEN 'lang_literal' THEN '"' || {_NQ_ESC_SQL} || '"@' || o_lang
       WHEN 'typed_literal' THEN '"' || {_NQ_ESC_SQL} || '"^^<' || o_datatype || '>'
       ELSE '"' || {_NQ_ESC_SQL} || '"' END)
    || (CASE WHEN g IS NULL THEN ''
             WHEN starts_with(g, '_:') THEN ' ' || g
             ELSE ' <' || g || '>' END)
    || ' .'
"""


@query(
    "nquads_export_accounting",
    oracle=f"""
    WITH {QUADS_CTE.strip()},
    lines AS (SELECT g, {_NQ_LINE_SQL} AS line FROM quads)
    SELECT g, COUNT(*) AS n_lines,
           CAST(SUM(LENGTH(line)) AS BIGINT) AS total_chars,
           MIN(line) AS first_line
    FROM lines GROUP BY g ORDER BY g
    """,
)
def nquads_export_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-graph accounting of the distributed N-Quads sink's exact line
    expression (sources/nquads.py:nquads_line_expr) — serialization
    value-checked byte-for-byte by the SQL twin; the sink itself is
    df.write.text, executor-parallel (ntriples_export_accounting's
    pattern, lifted to the dataset tier)."""
    from rippledb_spark.sources.nquads import nquads_line_expr

    qs = _qstore(spark, sf_dir)
    return (
        qs.df.select("g", nquads_line_expr().alias("line"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.length("line")).alias("total_chars"),
            F.min("line").alias("first_line"),
        )
        .orderBy("g")
    )
