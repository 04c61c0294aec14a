"""Property-path queries over the derived triples graph (SPARQL 1.1
superset — plans.paths; the reference's query surface is conjunctive BGP
only, src/rdf/query.rs:27-63).

Each query's DuckDB oracle re-derives the same pair semantics with plain
joins (sequence) or a recursive CTE (closure) over the shared TRIPLES_CTE,
so the path evaluator is value-hash-checked end to end.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rippledb_spark.plans.paths import path_pairs
from rippledb_spark.plans.sparql import Sparql
from rippledb_spark.registry import query
from rippledb_spark.queries.triples import TRIPLES_CTE, _store


@query(
    "path_order_to_region",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()}
    SELECT t2.o_value AS region, COUNT(*) AS order_count
    FROM triples t0
    JOIN triples t1 ON t1.s = t0.o_value AND t1.p = 'in_nation'
    JOIN triples t2 ON t2.s = t1.o_value AND t2.p = 'in_region'
    WHERE t0.p = 'placed_by'
    GROUP BY t2.o_value
    ORDER BY region
    """,
)
def path_order_to_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence path ``placed_by/in_nation/in_region``: every order routed
    to its customer's region in one path pattern (bag semantics — one row
    per order), then counted per region. The path plan is the same join
    chain a hand-written BGP would produce; Catalyst broadcasts the small
    nation/region hops."""
    st = _store(spark, sf_dir)
    q = (
        Sparql()
        .select(["$ord", "$region"])
        .path("$ord", "placed_by/in_nation/in_region", "$region")
    )
    return (
        st.select_join(q)
        .groupBy("region")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("region")
    )


@query(
    "path_within_closure",
    oracle=f"""
    WITH RECURSIVE {TRIPLES_CTE.strip()},
    wedges AS (
      SELECT s AS src, o_value AS dst FROM triples
      WHERE p IN ('in_nation', 'in_region')
    ),
    closure AS (
      SELECT src, dst FROM wedges
      UNION
      SELECT c.src, w.dst FROM closure c JOIN wedges w ON c.dst = w.src
    )
    SELECT src, dst FROM closure ORDER BY src, dst
    """,
)
def path_within_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure path ``(in_nation|in_region)+``: all distinct
    containment pairs — customer/supplier→nation, nation→region, and the
    derived customer/supplier→region hops. Frontier-only fixpoint
    expansion (plans.paths._closure) vs a DuckDB recursive CTE; the UNION
    (not UNION ALL) in the oracle mirrors the spec's distinct-pairs
    OneOrMorePath semantics."""
    st = _store(spark, sf_dir)
    return path_pairs(st.df, "(in_nation|in_region)+").orderBy("src", "dst")


@query(
    "bgp_modifiers_entities_page",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()}
    SELECT DISTINCT s AS ent, o_value AS nat
    FROM triples WHERE p = 'in_nation'
    ORDER BY ent DESC
    LIMIT 40 OFFSET 10
    """,
)
def bgp_modifiers_entities_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL solution modifiers (DISTINCT / ORDER BY / LIMIT / OFFSET —
    engine-tier superset; the reference returns raw candidates in
    dictionary-id order, graph.rs:389-402): a deterministic page of
    entity→nation bindings. The ORDER BY key is unique per row, so the
    OFFSET/LIMIT slice is well-defined on both engines."""
    st = _store(spark, sf_dir)
    q = (
        Sparql()
        .select(["$ent", "$nat"])
        .filter([["$ent", "in_nation", "$nat"]])
        .distinct()
        .order_by(["-$ent"])
        .limit(40, offset=10)
    )
    return st.select_join(q)


@query(
    "construct_region_membership",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()}
    SELECT s, p, o_value FROM (
      SELECT DISTINCT t0.s AS s, 'in_region_direct' AS p, t1.o_value AS o_value
      FROM triples t0
      JOIN triples t1 ON t1.s = t0.o_value AND t1.p = 'in_region'
      WHERE t0.p = 'in_nation'
      UNION
      SELECT DISTINCT t1.o_value, 'has_member', t0.s
      FROM triples t0
      JOIN triples t1 ON t1.s = t0.o_value AND t1.p = 'in_region'
      WHERE t0.p = 'in_nation'
    ) ORDER BY s, p, o_value
    """,
)
def construct_region_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT (graph-producing superset): from the two-hop
    entity→nation→region solutions, build a NEW graph with derived
    ``in_region_direct`` edges and their ``has_member`` inverses — the
    materialized-view pattern for RDF (derive once, then query the derived
    graph with bound-predicate pruning). Result is a set (one dedup
    shuffle); the solution join is the same broadcast chain as the BGP."""
    st = _store(spark, sf_dir)
    q = Sparql().filter(
        [["$e", "in_nation", "$n"], ["$n", "in_region", "$r"]]
    )
    derived = st.construct(
        q,
        [["$e", "in_region_direct", "$r"], ["$r", "has_member", "$e"]],
    )
    return derived.df.select("s", "p", "o_value").orderBy("s", "p", "o_value")


@query(
    "bgp_minus_nonurgent_orders",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()},
    placed AS (SELECT s AS o, o_value AS c FROM triples WHERE p = 'placed_by'),
    urgent AS (
      SELECT s AS o FROM triples
      WHERE p = 'has_priority' AND o_value = 'priority:1-URGENT'
        AND o_kind = 'named'
    )
    SELECT p.o AS o, p.c AS c
    FROM placed p ANTI JOIN urgent u ON p.o = u.o
    ORDER BY o, c
    """,
)
def bgp_minus_nonurgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL MINUS (negation superset — the reference is conjunctive-
    only): orders and their customers, minus every order with URGENT
    priority. Plans as one LEFT ANTI hash join on the shared variable —
    the negated form of the semi-join engine get() uses for pruning."""
    st = _store(spark, sf_dir)
    q = (
        Sparql()
        .select(["$o", "$c"])
        .filter([["$o", "placed_by", "$c"]])
        .minus([["$o", "has_priority", "priority:1-URGENT"]])
    )
    return st.select_join(q).orderBy("o", "c")


@query(
    "bgp_values_segment_page",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()}
    SELECT s AS c, o_value AS seg FROM triples
    WHERE p = 'in_segment'
      AND o_value IN ('segment:BUILDING', 'segment:MACHINERY')
    ORDER BY c, seg
    """,
)
def bgp_values_segment_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES (inline bindings, spec §10.2): customers restricted
    to a driver-supplied segment list — the parameterized-query shape.
    The inline table broadcasts into the join; no string-built SQL."""
    st = _store(spark, sf_dir)
    q = (
        Sparql()
        .select(["$c", "$seg"])
        .filter([["$c", "in_segment", "$seg"]])
        .values(["$seg"], [("segment:BUILDING",), ("segment:MACHINERY",)])
    )
    return st.select_join(q).orderBy("c", "seg")


@query(
    "sparql_text_building_regions",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()}
    SELECT t0.s AS c, t2.o_value AS r
    FROM triples t0
    JOIN triples t1 ON t1.s = t0.s AND t1.p = 'in_nation'
    JOIN triples t2 ON t2.s = t1.o_value AND t2.p = 'in_region'
    WHERE t0.p = 'in_segment' AND t0.o_value = 'segment:BUILDING'
      AND t0.o_kind = 'named'
    ORDER BY c, r
    """,
)
def sparql_text_building_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPARQL TEXT frontend end-to-end (plans/text.py — the surface
    the reference stubs at query.rs:74-77): a query string mixing a plain
    pattern, a sequence property path, and ORDER BY, parsed and evaluated
    against the same oracle a builder query would use."""
    st = _store(spark, sf_dir)
    return st.sparql(
        "SELECT ?c ?r WHERE {"
        "  ?c in_segment segment:BUILDING ."
        "  ?c in_nation/in_region ?r ."
        "} ORDER BY ?c ?r"
    )


@query(
    "describe_nation_node",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()}
    SELECT s, p, o_value FROM triples
    WHERE s = 'nation:0'
       OR (o_value = 'nation:0' AND o_kind = 'named')
    ORDER BY s, p, o_value
    """,
)
def describe_nation_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE of nation:0 — every triple touching the node in
    subject or (named) object position: its region edge and name literal,
    plus every customer/supplier pointing at it. The cross-predicate probe
    the reference serves with its s__/__o access paths (graph.rs:930-992),
    here one OR-filter scan."""
    st = _store(spark, sf_dir)
    return st.describe("nation:0").select("s", "p", "o_value").orderBy(
        "s", "p", "o_value"
    )


@query(
    "path_nation_region_maybe",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()},
    nations AS (SELECT DISTINCT s FROM triples WHERE p = 'in_region')
    SELECT src, dst FROM (
      SELECT s AS src, s AS dst FROM nations
      UNION
      SELECT s AS src, o_value AS dst FROM triples WHERE p = 'in_region'
    ) ORDER BY src, dst
    """,
)
def path_nation_region_maybe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-or-one path ``in_region?`` seeded at the nation nodes: each
    nation paired with itself (zero-length arm, restricted to the seed set
    per the spec's bound-end evaluation) and with its region. Exercises
    the seeded-evaluation fast path that keeps ``?``/``*`` from
    materializing the store-wide node universe."""
    st = _store(spark, sf_dir)
    nations = st.df.filter(F.col("p") == "in_region").select(
        F.col("s").alias("node")
    )
    return path_pairs(st.df, "in_region?", srcs=nations).orderBy("src", "dst")


@query(
    "sparql_builtins_order_expr",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()},
    nations AS (SELECT DISTINCT s FROM triples WHERE p = 'in_region'),
    names AS (
      SELECT s AS nat, o_value AS name FROM triples
      WHERE p = 'has_name' AND s IN (SELECT s FROM nations)
        AND contains(o_value, 'A')
    )
    SELECT nat, name, lower(name) AS lname FROM names
    ORDER BY length(name) DESC, name LIMIT 10
    """,
)
def sparql_builtins_order_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 text-frontend builtins + ORDER BY expressions in one query:
    CONTAINS as a FILTER predicate, LCASE through BIND, and
    DESC(STRLEN(?name)) as an expression order key. The LIMIT makes the
    expression ordering part of the VERIFIED row set (the driver's
    compare is order-insensitive, so top-k selection — with ?name as the
    total-order tiebreak — is how an ORDER BY proves itself)."""
    st = _store(spark, sf_dir)
    return st.sparql(
        "SELECT ?nat ?name ?lname WHERE { "
        "?nat in_region ?r . ?nat has_name ?name . "
        'FILTER CONTAINS(?name, "A") '
        "BIND(LCASE(?name) AS ?lname) } "
        "ORDER BY DESC(STRLEN(?name)) ?name LIMIT 10"
    )


@query(
    "bgp_optional_group_filter",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()},
    names AS (SELECT s, o_value AS name FROM triples
              WHERE p = 'has_name' AND s LIKE 'customer:%'),
    finished AS (
      SELECT t1.s AS o, t1.o_value AS c FROM triples t1
      JOIN triples t2 ON t2.s = t1.s AND t2.p = 'has_status'
        AND t2.o_value = 'F'
      WHERE t1.p = 'placed_by'
    )
    SELECT n.s AS c, n.name AS name, f.o AS fin_order
    FROM names n LEFT JOIN finished f ON f.c = n.s
    ORDER BY c, name, fin_order
    """,
)
def bgp_optional_group_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-scoped FILTER inside OPTIONAL (r6): customers with each of
    their FINISHED orders attached where any exist, one NULL row
    otherwise — the status constraint lives INSIDE the optional group
    (``FILTER(?st = "F")`` over the group's own binding), so a customer
    with only unfinished orders still surfaces. Filtering the joined
    result instead would DROP those customers; the oracle's
    pre-filtered LEFT JOIN mirrors the spec's group scoping exactly."""
    st = _store(spark, sf_dir)
    return st.sparql(
        "SELECT ?c ?name ?fin_order WHERE { "
        "?c has_name ?name . "
        'FILTER STRSTARTS(STR(?c), "customer:") '
        "OPTIONAL { ?fin_order placed_by ?c . ?fin_order has_status ?st "
        'FILTER(?st = "F") } }'
    ).orderBy("c", "name", "fin_order")


@query(
    "path_quantified_containment",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()},
    wedges AS (
      SELECT s AS src, o_value AS dst FROM triples
      WHERE p IN ('in_nation', 'in_region')
    ),
    two AS (
      SELECT a.src, b.dst FROM wedges a JOIN wedges b ON a.dst = b.src
    )
    SELECT DISTINCT src, dst FROM (
      SELECT src, dst FROM wedges UNION ALL SELECT src, dst FROM two
    ) ORDER BY src, dst
    """,
)
def path_quantified_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded path quantifier ``(in_nation|in_region){1,2}`` (draft
    §18.2 quantifiers, r6): containment pairs at exactly one or two hops
    — entity→nation, nation→region, and the derived entity→region — WITHOUT
    running a closure: the desugared form (step then optional step,
    plans/paths._repeat) is two hash joins with frontier seeding, so the
    level bound is structural, not an iteration cap. Oracle: the union of
    the level-1 and level-2 join forms, distinct per the quantifier's
    set-based draft semantics."""
    st = _store(spark, sf_dir)
    return (
        path_pairs(st.df, "(in_nation|in_region){1,2}")
        .distinct()
        .orderBy("src", "dst")
    )


@query(
    "path_negated_nation_edges",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()},
    pairs AS (
      SELECT s AS src, o_value AS dst FROM triples
      WHERE p <> 'has_name' AND s LIKE 'nation:%'
      UNION ALL
      SELECT o_value AS src, s AS dst FROM triples
      WHERE p <> 'placed_by' AND o_value LIKE 'nation:%'
    )
    SELECT src, COUNT(*) AS edge_count
    FROM pairs GROUP BY src ORDER BY src
    """,
)
def path_negated_nation_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negated property set ``!(has_name|^placed_by)`` seeded at the nation
    nodes (SPARQL 1.1 §18.2.2.3, beyond the reference's BGP surface —
    src/rdf/query.rs:27-63): the forward member excludes nation name
    literals, keeping ``in_region`` hops; the inverse member keeps every
    edge INTO a nation (the customer/supplier ``in_nation`` memberships)
    as swapped (nation, member) pairs. Counted per nation so the bag
    semantics — one row per matching triple, both parts unioned with ALL —
    are what the hash check attests. Both parts are single NOT-IN filter
    scans; no join beyond the seed semi-join."""
    st = _store(spark, sf_dir)
    nations = (
        st.df.filter(F.col("s").startswith("nation:"))
        .select(F.col("s").alias("node"))
        .distinct()
    )
    return (
        path_pairs(st.df, "!(has_name|^placed_by)", srcs=nations)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("edge_count"))
        .orderBy("src")
    )


@query(
    "sparql_text_filter_customers",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()}
    SELECT t0.s AS c, t0.o_value AS name
    FROM triples t0
    JOIN triples t1 ON t1.s = t0.s AND t1.p = 'in_segment'
      AND t1.o_value = 'segment:MACHINERY' AND t1.o_kind = 'named'
    WHERE t0.p = 'has_name'
      AND regexp_matches(t0.o_value, '[02468]$')
      AND t0.o_value > 'Customer#000000100'
    ORDER BY c, name
    """,
)
def sparql_text_filter_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER in the SPARQL text frontend (plans/filters.py — closes the
    top round-4 gap: a query STRING with FILTER(...) previously raised).
    MACHINERY customers whose name matches a regex AND clears a
    lexicographic threshold; the constraint lowers to ordinary Catalyst
    predicates on the bound columns, pushed through the segment semi-join
    exactly like the hand-written bgp_filter_name_pattern plan. Extends
    the engine's realization of the reference's unimplemented ``sparql!``
    macro (src/rdf/query.rs:74-77)."""
    st = _store(spark, sf_dir)
    return st.sparql(
        'SELECT ?c ?name WHERE {'
        '  ?c in_segment segment:MACHINERY .'
        '  ?c has_name ?name .'
        '  FILTER(REGEX(?name, "[02468]$") && ?name > "Customer#000000100")'
        '} ORDER BY ?c ?name'
    )


_XESC = (
    """replace(replace(replace(replace({0}, '&', '&amp;'), '<', '&lt;'),"""
    """ '>', '&gt;'), '"', '&quot;')"""
)


@query(
    "rdfxml_export_accounting",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()},
    esc AS (
      SELECT p, o_kind, {_XESC.format('s')} AS es, {_XESC.format('o_value')} AS eo
      FROM triples
    ),
    lines AS (
      SELECT p,
             '  <rdf:Description rdf:about="' || es || '">' ||
             CASE WHEN o_kind = 'named'
                  THEN '<' || p || ' rdf:resource="' || eo || '"/>'
                  ELSE '<' || p || '>' || eo || '</' || p || '>' END ||
             '</rdf:Description>' AS line
      FROM esc
    )
    SELECT p, COUNT(*) AS n_lines,
           CAST(SUM(LENGTH(line)) AS BIGINT) AS total_chars,
           MIN(line) AS first_line
    FROM lines GROUP BY p ORDER BY p
    """,
)
def rdfxml_export_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate accounting of the distributed RDF/XML sink's output
    (rdfio.write_rdfxml — the round-4 'complete the format matrix' item):
    the exact per-row Description element the sink writes — QName split,
    default-xmlns namespacing, XML escaping, per-kind object forms —
    aggregated instead of written so the oracle value-checks the
    serialization byte-for-byte (the SQL twin re-derives the elements;
    the graph's bare predicates take the ns='' branch, and the escape
    chain is replicated verbatim). The sink itself is df.write.text with
    per-partition document wrapping, executor-parallel."""
    from rippledb_spark.sources.rdfio import rdfxml_lines

    st = _store(spark, sf_dir)
    return (
        rdfxml_lines(st.df)
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.length("line")).alias("total_chars"),
            F.min("line").alias("first_line"),
        )
        .orderBy("p")
    )


@query(
    "sparql_agg_members_per_nation",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()}
    SELECT o_value AS nat, COUNT(*) AS n_members, MIN(s) AS first_member
    FROM triples WHERE p = 'in_nation'
    GROUP BY o_value HAVING COUNT(*) >= 60
    ORDER BY nat
    """,
)
def sparql_agg_members_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GROUP BY + aggregates end-to-end through the TEXT frontend
    (spec §11 — the r5 aggregation superset; the reference's query surface
    is conjunctive BGP only, src/rdf/query.rs:27-63): nation membership
    counts with a HAVING threshold and a lexicographic MIN. Lowers to one
    map-side-combinable hash aggregate over the pattern scan; HAVING is a
    post-aggregation Catalyst filter on the alias column."""
    st = _store(spark, sf_dir)
    return st.sparql(
        "SELECT ?nat (COUNT(?m) AS ?n_members) (MIN(?m) AS ?first_member) "
        "WHERE { ?m in_nation ?nat } "
        "GROUP BY ?nat HAVING(?n_members >= 60) ORDER BY ?nat"
    )


@query(
    "sparql_agg_distinct_segments",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()}
    SELECT t1.o_value AS nat, COUNT(DISTINCT t2.o_value) AS n_segments
    FROM triples t1
    JOIN triples t2 ON t2.s = t1.s AND t2.p = 'in_segment'
    WHERE t1.p = 'in_nation'
    GROUP BY t1.o_value ORDER BY nat
    """,
)
def sparql_agg_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT ?v) over a two-pattern join through the text
    frontend: distinct market segments represented in each nation. The
    distinct aggregate rewrites to Spark's two-phase count_distinct —
    partial per-partition dedup before the shuffle, the same plan a
    hand-written relational query gets."""
    st = _store(spark, sf_dir)
    return st.sparql(
        "SELECT ?nat (COUNT(DISTINCT ?seg) AS ?n_segments) "
        "WHERE { ?c in_nation ?nat . ?c in_segment ?seg } "
        "GROUP BY ?nat ORDER BY ?nat"
    )


@query(
    "sparql_exists_no_urgent_customers",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()}
    SELECT t0.s AS c
    FROM triples t0
    WHERE t0.p = 'in_segment' AND t0.o_value = 'segment:FURNITURE'
      AND t0.o_kind = 'named'
      AND NOT EXISTS (
        SELECT 1 FROM triples t1
        JOIN triples t2 ON t2.s = t1.s AND t2.p = 'has_priority'
          AND t2.o_value = 'priority:1-URGENT' AND t2.o_kind = 'named'
        WHERE t1.p = 'placed_by' AND t1.o_value = t0.s
      )
    ORDER BY c
    """,
)
def sparql_exists_no_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER NOT EXISTS through the text frontend (spec §8.1 — the
    second negation form beside MINUS, r5): FURNITURE customers with no
    1-URGENT order. A NON-EMPTY probe by construction (priorities are
    uniformly spread, so a real fraction of customers has none — the
    bgp_s_o_predicates lesson: a green row must attest data, not
    absence). The two-pattern inner group joins on the order variable,
    then anti-joins the outer solutions on the shared customer variable;
    both pattern scans prune to single predicate partitions."""
    st = _store(spark, sf_dir)
    return st.sparql(
        "SELECT ?c WHERE { ?c in_segment segment:FURNITURE . "
        "FILTER NOT EXISTS { ?o placed_by ?c . ?o has_priority priority:1-URGENT } "
        "} ORDER BY ?c"
    )


@query(
    "sparql_bind_nation_region_label",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()}
    SELECT substr(t1.o_value, 8) || '@' || substr(t2.o_value, 8) AS label,
           COUNT(*) AS n_members
    FROM triples t1
    JOIN triples t2 ON t2.s = t1.o_value AND t2.p = 'in_region'
    WHERE t1.p = 'in_nation'
    GROUP BY 1 HAVING COUNT(*) >= 60
    ORDER BY label
    """,
)
def sparql_bind_nation_region_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIND + value expressions through the text frontend (spec §10.1,
    r5): a computed nation@region label (CONCAT over 1-based SUBSTR
    slices) grouped and thresholded with an ARITHMETIC HAVING
    (``120 / 2``) — exercising the full plans/filters value grammar as
    ordinary Catalyst projections: the BIND is one withColumn, visible
    to GROUP BY like any pattern variable."""
    st = _store(spark, sf_dir)
    return st.sparql(
        "SELECT ?label (COUNT(?m) AS ?n_members) WHERE { "
        "  ?m in_nation ?nat . ?nat in_region ?r . "
        '  BIND(CONCAT(SUBSTR(?nat, 8), "@", SUBSTR(?r, 8)) AS ?label) '
        "} GROUP BY ?label HAVING(?n_members >= 120 / 2) ORDER BY ?label"
    )


@query(
    "sparql_subquery_nation_share",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()},
    counts AS (
      SELECT o_value AS nat, COUNT(*) AS n_members
      FROM triples WHERE p = 'in_nation' GROUP BY o_value
    )
    SELECT t.s AS c, c2.nat, c2.n_members
    FROM triples t
    JOIN counts c2 ON c2.nat = t.o_value
    WHERE t.p = 'in_nation' AND t.s LIKE 'supplier:%'
    ORDER BY c, nat
    """,
)
def sparql_subquery_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested SELECT (spec §12, r5): every supplier joined with its
    nation's TOTAL membership count, computed once in a subquery and
    joined back on the shared variable — the canonical
    aggregate-then-rejoin shape (a relational derived table; Catalyst
    broadcasts the 25-row aggregate). The outer FILTER restricts to
    suppliers via a plans.filters REGEX over the bound subject."""
    st = _store(spark, sf_dir)
    return st.sparql(
        "SELECT ?c ?nat ?n_members WHERE { "
        "  ?c in_nation ?nat . "
        '  FILTER(REGEX(?c, "^supplier:")) '
        "  { SELECT ?nat (COUNT(?m) AS ?n_members) "
        "    WHERE { ?m in_nation ?nat } GROUP BY ?nat } "
        "} ORDER BY ?c ?nat"
    )


@query(
    "sparql_update_modify_accounting",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()}
    SELECT CASE WHEN p = 'has_priority' THEN 'priority_was' ELSE p END AS p,
           COUNT(*) AS n
    FROM triples GROUP BY 1 ORDER BY p
    """,
)
def sparql_update_modify_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UPDATE's modify form end-to-end (plans/update.py, r5 — the
    text form of the reference's programmatic insert/remove,
    graph.rs:420-523): rename every has_priority edge to priority_was via
    DELETE {} INSERT {} WHERE {}, then account the post-update store per
    predicate. The whole update is DataFrame algebra — solutions once,
    one value anti-join for the deletion, construct+union+dedup for the
    insertion — against the immutable pre-update snapshot."""
    st = _store(spark, sf_dir)
    st2 = st.update(
        "DELETE { ?o has_priority ?pr } INSERT { ?o priority_was ?pr } "
        "WHERE { ?o has_priority ?pr }"
    )
    return st2.df.groupBy("p").agg(F.count(F.lit(1)).alias("n")).orderBy("p")


@query(
    "bgp_optional_path_coorders",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()},
    urgent AS (
      SELECT s FROM triples
      WHERE p = 'has_priority' AND o_value = 'priority:1-URGENT'
        AND o_kind = 'named'
    ),
    cp AS (SELECT s, o_value FROM triples WHERE p = 'contains_part'),
    pairs AS (
      SELECT a.s AS o, b.s AS o2 FROM cp a JOIN cp b ON a.o_value = b.o_value
    )
    SELECT u.s AS o, COUNT(p.o2) AS n_co
    FROM urgent u LEFT JOIN pairs p ON p.o = u.s
    GROUP BY u.s ORDER BY o
    """,
)
def bgp_optional_path_coorders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property path INSIDE an OPTIONAL group (r5 — groups now take path
    patterns), composed with aggregation: each urgent order
    NULL-extended by the orders sharing a part with it (the
    ``contains_part/^contains_part`` co-order relation, bag semantics),
    then COUNT(?o2) per order — partless orders count 0 instead of
    vanishing (COUNT skips the NULL extension, spec §11.4). One
    left-outer hash join of the urgent scan against the path's join
    chain; the path evaluates forward/inverse as two predicate scans."""
    st = _store(spark, sf_dir)
    return st.sparql(
        "SELECT ?o (COUNT(?o2) AS ?n_co) WHERE { "
        "  ?o has_priority priority:1-URGENT . "
        "  OPTIONAL { ?o contains_part/^contains_part ?o2 } "
        "} GROUP BY ?o ORDER BY ?o"
    )


@query(
    "describe_where_urgent_orders",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()},
    b AS (
      SELECT DISTINCT s AS node FROM triples
      WHERE p = 'has_priority' AND o_value = 'priority:1-URGENT'
        AND o_kind = 'named'
    )
    SELECT DISTINCT t.s, t.p, t.o_value FROM triples t
    WHERE t.s IN (SELECT node FROM b)
       OR (t.o_kind = 'named' AND t.o_value IN (SELECT node FROM b))
    ORDER BY s, p, o_value
    """,
)
def describe_where_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE ?o WHERE {{ ... }} (spec §16.4 variable form, r6 — the
    reference's describe takes one bound node): the union of symmetric
    descriptions of every URGENT order. The binding set comes from one
    bound-predicate-pruned scan and broadcasts into two semi-joins
    (subject side + named-object side) — never an OR-join."""
    st = _store(spark, sf_dir)
    return (
        st.sparql(
            "DESCRIBE ?o WHERE { ?o has_priority priority:1-URGENT }"
        )
        .select("s", "p", "o_value")
        .dropDuplicates()
        .orderBy("s", "p", "o_value")
    )
