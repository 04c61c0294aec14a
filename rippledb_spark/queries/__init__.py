"""Named query pack over the RDF store — the oracle-checked surface behind
``__spark_entry__.py``.

Modules register into :mod:`rippledb_spark.registry` at import time:

- ``triples``  — the reference-parity BGP surface over a triples graph
                 derived from the relational testdata (Q1-Q13 of SURVEY
                 §2.3), DML, and the serializer sinks
- ``triples2`` — property paths, SPARQL text (OPTIONAL/MINUS/VALUES/
                 EXISTS/BIND/aggregates/subqueries), DESCRIBE, CONSTRUCT
                 and SPARQL UPDATE over the same graph
- ``quads``    — the named-graph dataset (QuadStore): GRAPH, FROM/FROM
                 NAMED, graph-scoped updates, N-Quads export
"""
