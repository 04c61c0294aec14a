"""QuadStore — an RDF DATASET (SPARQL 1.1 §13: one default graph + named
graphs) on one quads DataFrame. Dataset-tier superset: the reference is a
single-graph engine (one K2Tree store, src/datastore/graph.rs — no graph
dimension anywhere), so everything here is engine-tier, built so that a
TripleStore user can move to multi-graph data without changing idioms.

Design (shares ``_Store`` with TripleStore, store.py: constructors, DML,
set algebra, the SQL view, UPDATE and the parquet writer are defined once):

- one DataFrame in model.QUADS_SCHEMA; ``g`` NULL = the default graph;
- immutable: every mutation returns a NEW QuadStore snapshot;
- set semantics on the full 8-column quad identity;
- the graph label is an ordinary string column — GRAPH <iri> scopes are
  equality predicates (partition-prunable under ``partitionBy("g")``
  persistence for stores with few graphs, plain predicate pushdown
  otherwise), and GRAPH ?var joins carry ``g`` as one more equi-join
  key. No per-graph driver loop anywhere, so a dataset with millions of
  named graphs shards like any other key.

Graph-existence semantics: empty graphs are not tracked (a graph exists
iff it has at least one quad) — so CREATE GRAPH is validation-only and
DROP GRAPH ≡ CLEAR GRAPH, the documented behavior of dataframe-backed
quad stores.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rippledb_spark import model
from rippledb_spark.errors import SchemaError
from rippledb_spark.plans import graphs
from rippledb_spark.plans.sparql import Sparql
from rippledb_spark.store import TripleStore, _answer, _Store


class QuadStore(_Store):
    KEY, SCHEMA, ARITY, VIEW = model.QUAD_KEY, model.QUADS_SCHEMA, 4, "quads"
    LIFT = staticmethod(model.quad_row)  # (g, s, p, o); g None = default graph

    # -- constructors -------------------------------------------------------

    @classmethod
    def from_triplestores(
        cls,
        spark: SparkSession,
        default: TripleStore | None = None,
        named: dict[str, TripleStore] | None = None,
    ) -> "QuadStore":
        """Assemble a dataset from single-graph stores: the migration path
        for TripleStore users adopting named graphs."""
        parts: list[DataFrame] = []
        if default is not None:
            parts.append(default.df.withColumn("g", F.lit(None).cast("string")))
        for iri, ts in (named or {}).items():
            if not iri:
                raise SchemaError("named graph IRI must be non-empty")
            parts.append(ts.df.withColumn("g", F.lit(iri)))
        if not parts:
            return cls.empty(spark)
        return cls.from_df(spark, reduce(DataFrame.unionByName, parts))

    @classmethod
    def from_nquads(cls, spark: SparkSession, path: str) -> "QuadStore":
        from rippledb_spark.sources.nquads import read_nquads

        return cls.from_df(spark, read_nquads(spark, path))

    @classmethod
    def from_trig(cls, spark: SparkSession, path: str) -> "QuadStore":
        from rippledb_spark.sources.trig import read_trig

        return cls.from_df(spark, read_trig(spark, path))

    # -- persistence --------------------------------------------------------

    def persist_to(
        self,
        path: str,
        mode: str = "overwrite",
        partition_by: tuple[str, ...] = ("p",),
    ) -> None:
        """Parquet snapshot, partitioned by predicate by default — the
        same vertical partitioning as TripleStore (bound-p pruning);
        ``g`` stays a data column so graph counts never dictate directory
        fan-out (a store with millions of graphs would explode a
        partitionBy("g") layout, while predicates stay bounded).

        For stores with FEW named graphs, pass ``partition_by=("g",)``
        (or ``("g", "p")``): GRAPH <iri> scopes are plain g-equality
        predicates, so the parquet reader prunes whole graph directories
        — the plan shows ``PartitionFilters: [(g = <iri>)]`` and
        non-matching graphs are never opened (receipt in docs/PLANS.md,
        pinned by tests/test_quadstore.py). Written by the one colocating
        writer, :meth:`_write_by_predicate`."""
        self._write_by_predicate(path, mode, partition_by)

    def write_nquads(self, path: str, mode: str = "overwrite") -> None:
        from rippledb_spark.sources.nquads import write_nquads

        write_nquads(self.df, path, mode=mode)

    def write_trig(self, path: str, mode: str = "overwrite") -> None:
        from rippledb_spark.sources.trig import write_trig

        write_trig(self.df, path, mode=mode)

    # -- graph access -------------------------------------------------------

    def default_graph(self) -> TripleStore:
        return TripleStore(self.spark, self.df.filter(F.col("g").isNull()))

    def graph(self, iri: str) -> TripleStore:
        """One named graph as a TripleStore (every single-graph operator —
        paths, exports, analytics — applies unchanged)."""
        return TripleStore(self.spark, self.df.filter(F.col("g") == F.lit(iri)))

    def graph_names(self) -> DataFrame:
        """DataFrame(g) of named-graph IRIs present (a graph exists iff
        it holds a quad — see the module docstring)."""
        return self.df.filter(F.col("g").isNotNull()).select("g").distinct()

    def stats(self) -> DataFrame:
        """Per-graph footprint: quad count + distinct subjects/predicates,
        default graph reported as NULL. One hash aggregate."""
        return self.df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_quads"),
            F.countDistinct("s").alias("n_subjects"),
            F.countDistinct("p").alias("n_predicates"),
        )

    # -- query --------------------------------------------------------------

    def select_dataset(self, query: Sparql) -> DataFrame:
        return graphs.select_dataset(self.df, query)

    def sparql(self, text: str) -> DataFrame:
        """Evaluate a SPARQL query string over the DATASET: plain patterns
        match the default graph, GRAPH groups match named graphs, FROM /
        FROM NAMED select the dataset (plans/graphs.py semantics). The
        dispatcher and evaluator are TripleStore.sparql's, so query forms
        without graph features behave exactly like
        ``default_graph().sparql(text)``."""
        return _answer(self, text)
