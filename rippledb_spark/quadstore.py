"""QuadStore — an RDF DATASET (SPARQL 1.1 §13: one default graph + named
graphs) on one quads DataFrame. Dataset-tier superset: the reference is a
single-graph engine (one K2Tree store, src/datastore/graph.rs — no graph
dimension anywhere), so everything here is engine-tier, built so that a
TripleStore user can move to multi-graph data without changing idioms.

Design (mirrors TripleStore, store.py):

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

from collections.abc import Iterable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rippledb_spark import model
from rippledb_spark.errors import QueryError, SchemaError
from rippledb_spark.plans import bgp, graphs
from rippledb_spark.plans.sparql import Sparql
from rippledb_spark.store import TripleStore

QuadLike = tuple | list


def _normalize_quads(rows: Iterable[QuadLike]) -> list[tuple]:
    """Accept (g, s, p, o) shorthand — terms lifted to Named nodes like
    TripleStore's 3-tuple form — or full 8-tuples in QUADS_SCHEMA order."""
    out = []
    for r in rows:
        r = tuple(r)
        if len(r) == 4:
            out.append(model.quad_row(r[0], r[1], r[2], r[3]))
        elif len(r) == 8:
            out.append(r)
        else:
            raise SchemaError(f"quad row must have 4 or 8 fields, got {len(r)}")
    return out


class QuadStore:
    def __init__(self, spark: SparkSession, df: DataFrame):
        missing = [c for c in model.QUAD_KEY if c not in df.columns]
        if missing:
            raise SchemaError(f"quads DataFrame missing columns {missing}")
        self.spark = spark
        self.df = df.select(*model.QUAD_KEY)

    # -- constructors -------------------------------------------------------

    @classmethod
    def empty(cls, spark: SparkSession) -> "QuadStore":
        return cls(spark, spark.createDataFrame([], model.QUADS_SCHEMA))

    @classmethod
    def from_df(cls, spark: SparkSession, df: DataFrame) -> "QuadStore":
        return cls(spark, df.dropDuplicates(model.QUAD_KEY))

    @classmethod
    def from_rows(cls, spark: SparkSession, rows: Iterable[QuadLike]) -> "QuadStore":
        df = spark.createDataFrame(_normalize_quads(rows), model.QUADS_SCHEMA)
        return cls.from_df(spark, df)

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
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return cls.from_df(spark, out.select(*model.QUAD_KEY))

    @classmethod
    def from_nquads(cls, spark: SparkSession, path: str) -> "QuadStore":
        from rippledb_spark.sources.nquads import read_nquads

        return cls.from_df(spark, read_nquads(spark, path))

    @classmethod
    def from_trig(cls, spark: SparkSession, path: str) -> "QuadStore":
        from rippledb_spark.sources.trig import read_trig

        return cls.from_df(spark, read_trig(spark, path))

    @classmethod
    def from_backup(cls, spark: SparkSession, path: str) -> "QuadStore":
        return cls(spark, spark.read.parquet(path).select(*model.QUAD_KEY))

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
        pinned by tests/test_quadstore.py)."""
        self.df.write.mode(mode).partitionBy(*partition_by).parquet(path)

    def write_nquads(self, path: str, mode: str = "overwrite") -> None:
        from rippledb_spark.sources.nquads import write_nquads

        write_nquads(self.df, path, mode=mode)

    def write_trig(self, path: str, mode: str = "overwrite") -> None:
        from rippledb_spark.sources.trig import write_trig

        write_trig(self.df, path, mode=mode)

    # -- graph access -------------------------------------------------------

    def default_graph(self) -> TripleStore:
        return TripleStore(
            self.spark, self.df.filter(F.col("g").isNull()).select(*model.TRIPLE_KEY)
        )

    def graph(self, iri: str) -> TripleStore:
        """One named graph as a TripleStore (every single-graph operator —
        paths, exports, analytics — applies unchanged)."""
        return TripleStore(
            self.spark,
            self.df.filter(F.col("g") == F.lit(iri)).select(*model.TRIPLE_KEY),
        )

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

    # -- DML ----------------------------------------------------------------

    def insert(self, rows: Iterable[QuadLike] | DataFrame) -> "QuadStore":
        """Idempotent set insert (TripleStore.insert semantics, lifted to
        quads): union + dedup on the 8-column identity."""
        add = (
            rows.select(*model.QUAD_KEY)
            if isinstance(rows, DataFrame)
            else self.spark.createDataFrame(_normalize_quads(rows), model.QUADS_SCHEMA)
        )
        return QuadStore(
            self.spark, self.df.unionByName(add).dropDuplicates(model.QUAD_KEY)
        )

    def remove(self, rows: Iterable[QuadLike] | DataFrame) -> "QuadStore":
        """Set remove (missing = no-op): null-safe anti-join on the quad
        identity — ``g`` and the lang/datatype columns are nullable, so
        the join condition must treat NULL = NULL as a match."""
        drop = (
            rows.select(*model.QUAD_KEY)
            if isinstance(rows, DataFrame)
            else self.spark.createDataFrame(_normalize_quads(rows), model.QUADS_SCHEMA)
        )
        cond = None
        for c in model.QUAD_KEY:
            eq = self.df[c].eqNullSafe(drop[c])
            cond = eq if cond is None else (cond & eq)
        return QuadStore(self.spark, self.df.join(drop, on=cond, how="left_anti"))

    # -- dataset set algebra (TripleStore.union/intersect/difference,
    #    lifted to the quad identity) ---------------------------------------

    def union(self, other: "QuadStore") -> "QuadStore":
        """Dataset merge — set semantics on the full quad identity (each
        graph merges with its same-named counterpart; default with
        default)."""
        return QuadStore(
            self.spark,
            self.df.unionByName(other.df).dropDuplicates(model.QUAD_KEY),
        )

    def intersect(self, other: "QuadStore") -> "QuadStore":
        """Quads present in BOTH datasets."""
        return QuadStore(self.spark, self.df.intersect(other.df))

    def difference(self, other: "QuadStore") -> "QuadStore":
        """Quads in this dataset but not in ``other`` (≡ bulk remove)."""
        return QuadStore(self.spark, self.df.subtract(other.df))

    def create_view(self, name: str = "quads") -> None:
        """Register the dataset as a temp view → full spark.sql over
        quads (the SQL escape hatch, graph label included)."""
        self.df.createOrReplaceTempView(name)

    # -- query --------------------------------------------------------------

    def select_dataset(self, query: Sparql) -> DataFrame:
        return graphs.select_dataset(self.df, query)

    def sparql(self, text: str) -> DataFrame:
        """Evaluate a SPARQL query string over the DATASET: plain patterns
        match the default graph, GRAPH groups match named graphs, FROM /
        FROM NAMED select the dataset (plans/graphs.py semantics). Query
        forms without graph features behave exactly like
        ``default_graph().sparql(text)``."""
        from rippledb_spark.plans.text import (
            SparqlAsk,
            SparqlConstruct,
            SparqlDescribe,
            _pattern_vars,
            parse_sparql,
        )

        q = parse_sparql(text)
        if isinstance(q, Sparql):
            return self.select_dataset(q)
        if isinstance(q, SparqlAsk):
            inner = q.query
            names = _pattern_vars(inner, required=False)
            if not names:
                default, named = graphs.dataset_frames(self.df, inner)
                return graphs.ask_ground_dataset(default, named, inner)
            inner.select([f"${n}" for n in names])
            sols = self.select_dataset(inner)
            return sols.limit(1).select(F.lit(True).alias("ask"))
        if isinstance(q, SparqlConstruct):
            # GRAPH groups in the WHERE resolve against named graphs; the
            # template materializes a plain RDF graph (§16.2 — a CONSTRUCT
            # result is a graph, not a dataset)
            default, _ = graphs.dataset_frames(self.df, q.query)
            return bgp.construct(
                default, q.query, q.template,
                solver=lambda plan: graphs.select_dataset(self.df, plan),
            )
        if isinstance(q, SparqlDescribe):
            if q.var is None:
                # node description reads the DEFAULT graph (the dataset's
                # shared facts; per-graph CBDs via graph(iri).describe)
                return self.default_graph().describe(q.node)
            sols = self.select_dataset(q.query)
            if q.var not in sols.columns:
                raise QueryError(f"DESCRIBE variable ?{q.var} not bound by the group")
            return self.default_graph().describe_bindings(sols.select(q.var))
        # SparqlUnion: arms evaluate with full GRAPH/FROM support
        return graphs.select_union_dataset(self.df, q)

    # -- SPARQL Update ------------------------------------------------------

    def update(self, text: str) -> "QuadStore":
        """Apply one SPARQL 1.1 Update request in quads mode → a new
        snapshot; forms and semantics: plans/update.py's docstring."""
        from rippledb_spark.plans.update import apply, parse_update

        return apply(self, parse_update(text, quads=True))
