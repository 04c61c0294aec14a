"""rippledb_spark — an RDF triple store on Spark with the surface of
GGabi/RippleDB's ``Graph`` (reference ``src/datastore/graph.rs``): load RDF,
answer SPARQL, apply SPARQL UPDATE, persist and restore snapshots.

- :mod:`rippledb_spark.store` / :mod:`rippledb_spark.quadstore` — the
  triple store and the named-graph dataset, each a plain DataFrame;
- :mod:`rippledb_spark.plans` — the SPARQL parser and planner (BGP joins,
  property paths, filters, updates, GRAPH);
- :mod:`rippledb_spark.sources` — the RDF readers and writers (N-Triples,
  RDF/XML, Turtle, TriG, N-Quads, RDF/JSON, JSON-LD, the reference's backup
  format);
- :mod:`rippledb_spark.queries` — the oracle-checked query pack behind
  ``__spark_entry__.py``.

Everything is declarative DataFrame code — Catalyst owns physical planning.
"""

from rippledb_spark.session import get_spark
from rippledb_spark.store import TripleStore
from rippledb_spark.quadstore import QuadStore
from rippledb_spark.plans.sparql import Sparql

__all__ = ["get_spark", "TripleStore", "QuadStore", "Sparql"]
__version__ = "0.1.0"
