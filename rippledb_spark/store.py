"""TripleStore — the reference's ``Graph`` type re-expressed on DataFrames.

Reference surface (src/datastore/graph.rs) → here:

| reference                                   | TripleStore                  |
|---------------------------------------------|------------------------------|
| ``Graph::new()`` (graph.rs:43-53, S1)       | ``TripleStore.empty(spark)`` |
| ``Graph::from_rdf`` (graph.rs:223-330, S2)  | ``from_rdf`` (distributed)   |
| ``Graph::from_backup`` (graph.rs:54-222,S5) | ``from_backup`` (parquet)    |
| ``persist_to`` (graph.rs:630-695, S6)       | ``persist_to`` (parquet, partitioned by p) |
| ``iter``/``into_iter`` (graph.rs:696+, S7)  | ``iter_triples`` (toLocalIterator) |
| ``to_rdf`` (graph.rs:707-712, S8)           | ``to_rdf``                   |
| ``insert_triple`` (graph.rs:414-509, D1)    | ``insert`` (bulk, union+dedup) |
| ``remove_triple`` (graph.rs:510-629, D2)    | ``remove`` (bulk, anti-join) |
| ``get`` (graph.rs:333-413, Q2)              | ``get`` / ``select_join``    |
| ``get_from_triple`` (graph.rs:842-853, Q3)  | ``pattern``                  |
| ``footprint`` (graph.rs:1010-1027, Q13)     | ``stats``                    |

Design deltas (immutability replaces mutation — SURVEY §1.4):

- DML returns a NEW TripleStore snapshot; the reference's tombstone/grow
  machinery (graph.rs:418-460, 560-626) has no analogue because there is no
  shared integer id space to garbage-collect.
- Set semantics are value-level: dedup on the full 7-column identity
  (the reference's "one bit per triple", graph.rs:505-508).
- Persistence partitions by predicate — the same vertical partitioning as
  the reference's per-predicate K2Tree slices (graph.rs:36), giving
  partition pruning for bound-predicate patterns. Low-cardinality predicate
  columns (~10-60 distinct in RDF corpora) keep the file count sane at any
  scale; within a predicate, files split by size normally.
- Constructors, DML, set algebra, the SQL view, UPDATE and the parquet
  writer are defined once, in ``_Store``, which QuadStore (quadstore.py)
  shares: a TripleStore is the dataset with no named graphs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Self

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from rippledb_spark import model
from rippledb_spark.errors import SchemaError
from rippledb_spark.operators.triple_patterns import pattern_filter
from rippledb_spark.plans import bgp
from rippledb_spark.plans.sparql import Sparql, parse_unit
from rippledb_spark.sources import rdfio

TripleLike = tuple | list


def _anti(left: DataFrame, right: DataFrame, key: list[str]) -> DataFrame:
    """NULL-SAFE left-anti join on the full identity ``key`` — the ONE
    definition of set subtraction (g/o_lang/o_datatype are nullable: a
    plain name-equi join would never match NULL-bearing rows). The right
    side is renamed so a set derived from the left store itself (a
    self-join lineage) resolves unambiguously. Used by remove (D2) and
    diff (the CDC feed)."""
    r = right.select(*key).toDF(*[f"__r_{c}" for c in key])
    cond = None
    for c in key:
        eq = F.col(c).eqNullSafe(F.col(f"__r_{c}"))
        cond = eq if cond is None else (cond & eq)
    return left.join(r, on=cond, how="left_anti")


class _Store:
    """The one core of TripleStore and QuadStore: a set of rows keyed on
    the full identity ``KEY`` (in ``SCHEMA``). Every operation returns a
    NEW snapshot of the same class. Subclasses set ``KEY``/``SCHEMA``, the
    shorthand ``ARITY`` and its ``LIFT`` to a full row, and the default
    ``VIEW`` name."""

    KEY: list[str]
    SCHEMA: T.StructType
    ARITY: int
    LIFT: Callable[..., tuple]
    VIEW: str

    def __init__(self, spark: SparkSession, df: DataFrame):
        missing = [c for c in self.KEY if c not in df.columns]
        if missing:
            raise SchemaError(f"{self.VIEW} DataFrame missing columns {missing}")
        self.spark = spark
        self.df = df.select(*self.KEY)

    # -- constructors (S1, S5) ----------------------------------------------

    @classmethod
    def empty(cls, spark: SparkSession) -> Self:
        return cls(spark, spark.createDataFrame([], cls.SCHEMA))

    @classmethod
    def from_df(cls, spark: SparkSession, df: DataFrame) -> Self:
        return cls(spark, df.dropDuplicates(cls.KEY))

    @classmethod
    def from_rows(cls, spark: SparkSession, rows: Iterable[TripleLike]) -> Self:
        return cls.from_df(spark, cls._frame(spark, rows))

    @classmethod
    def from_backup(cls, spark: SparkSession, path: str) -> Self:
        """Restore a persisted store (S5). The schema is the store's own,
        never inferred: an empty snapshot has no parquet file to infer
        from, and a partition value like ``p=5`` must stay a string."""
        return cls(spark, spark.read.schema(cls.SCHEMA).parquet(path))

    @classmethod
    def _frame(cls, spark: SparkSession, rows: Iterable[TripleLike]) -> DataFrame:
        """Local rows → a frame. Shorthand rows of ``ARITY`` plain strings
        lift to Named nodes exactly like ``triple_into_rdf``
        (src/lib.rs:17-19); full rows come in ``SCHEMA`` order."""
        full, out = len(cls.KEY), []
        for r in map(tuple, rows):
            if len(r) == cls.ARITY:
                r = cls.LIFT(*r)
            elif len(r) != full:
                raise SchemaError(f"row must have {cls.ARITY} or {full} fields, got {len(r)}")
            out.append(r)
        return spark.createDataFrame(out, cls.SCHEMA)

    # -- persistence (S6) ---------------------------------------------------

    def _write_by_predicate(
        self, path: str, mode: str, cols: tuple[str, ...] = ("p",)
    ) -> None:
        """The one write path of persisted snapshots (both stores'
        ``persist_to``, :meth:`TripleStore.persist_version`): rows are
        hash-colocated on the partition columns (``p`` by default), then
        written one directory per value. Without the repartition every
        task holding rows of a predicate opens its own file under that
        predicate's directory — predicates × tasks tiny files whose parquet
        footer/dictionary overhead made small backups LARGER than their
        RDF/XML source (measured 2.5× on www-2011). Colocated, each
        predicate writes from few tasks and dictionary encoding sees the
        whole slice (backup ≈ 0.4× source; tools/bench_backup.py). At
        100 TB the same repartition is what bounds file counts; AQE
        coalesces the small-slice partitions."""
        df = self.df.repartition(*cols) if cols else self.df  # () = one flat directory
        df.write.mode(mode).partitionBy(*cols).parquet(path)

    # -- DML (D1, D2) -------------------------------------------------------

    def insert(self, rows: Iterable[TripleLike] | DataFrame) -> Self:
        """Bulk idempotent insert (D1): union + set-dedup, new snapshot."""
        add = rows if isinstance(rows, DataFrame) else self._frame(self.spark, rows)
        merged = self.df.unionByName(add.select(*self.KEY)).dropDuplicates(self.KEY)
        return type(self)(self.spark, merged)

    def remove(self, rows: Iterable[TripleLike] | DataFrame) -> Self:
        """Bulk delete (D2): null-safe anti-join; missing rows are a
        no-op exactly like graph.rs:513-523."""
        # Broadcast only local rows (provably small: already on the driver).
        # A caller's DataFrame — e.g. a delete set derived from the store
        # itself — may be huge, so there Catalyst/AQE picks the strategy.
        if not isinstance(rows, DataFrame):
            rows = F.broadcast(self._frame(self.spark, rows))
        return type(self)(self.spark, _anti(self.df, rows, self.KEY))

    # -- set algebra over whole graphs / datasets ---------------------------

    def union(self, other: Self) -> Self:
        """Merge — set semantics (dedup on full identity; a QuadStore's
        graphs merge with their same-named counterparts)."""
        merged = self.df.unionByName(other.df).dropDuplicates(self.KEY)
        return type(self)(self.spark, merged)

    def intersect(self, other: Self) -> Self:
        """Rows present in BOTH stores."""
        return type(self)(self.spark, self.df.intersect(other.df))

    def difference(self, other: Self) -> Self:
        """Rows in this store but not in ``other`` (≡ bulk remove)."""
        return type(self)(self.spark, self.df.exceptAll(other.df).distinct())

    def create_view(self, name: str | None = None) -> None:
        """Register the store as a temp view (default ``VIEW``) → full
        spark.sql over its rows (the SQL escape hatch the reference's
        builder-only API lacks)."""
        self.df.createOrReplaceTempView(name or self.VIEW)

    def update(self, text: str) -> Self:
        """Apply one SPARQL 1.1 Update request → a new snapshot; a
        TripleStore parses in single-graph mode, a QuadStore in quads
        mode (forms and semantics: plans/update.py's docstring)."""
        from rippledb_spark.plans.update import apply, parse_update

        return apply(self, parse_update(text, quads="g" in self.KEY))


class TripleStore(_Store):
    KEY, SCHEMA, ARITY, VIEW = model.TRIPLE_KEY, model.TRIPLES_SCHEMA, 3, "triples"
    LIFT = staticmethod(model.triple_row)

    # -- constructors (S2) --------------------------------------------------

    @classmethod
    def from_rdf(cls, spark: SparkSession, path: str) -> "TripleStore":
        """Bulk load RDF/XML file/dir/glob (S2). Distributed per file."""
        return cls.from_df(spark, rdfio.read_rdfxml(spark, path))

    @classmethod
    def from_ntriples(cls, spark: SparkSession, path: str) -> "TripleStore":
        return cls.from_df(spark, rdfio.read_ntriples(spark, path))

    @classmethod
    def from_turtle(cls, spark: SparkSession, path: str) -> "TripleStore":
        """Bulk load Turtle file/dir/glob (engine-tier format; the
        reference reads RDF/XML only). Distributed per file."""
        from rippledb_spark.sources.turtle import read_turtle

        return cls.from_df(spark, read_turtle(spark, path))

    @classmethod
    def from_rdfjson(cls, spark: SparkSession, path: str) -> "TripleStore":
        """Bulk load RDF/JSON file/dir/glob (engine-tier format — the W3C
        JSON alternate serialization; the reference reads RDF/XML only).
        Distributed per file; each file may be one document or
        JSON-lines."""
        from rippledb_spark.sources.rdfjson import read_rdfjson

        return cls.from_df(spark, read_rdfjson(spark, path))

    @classmethod
    def from_jsonld(cls, spark: SparkSession, path: str) -> "TripleStore":
        """Bulk load flat JSON-LD 1.0 file/dir/glob (engine-tier format —
        the web's most-used RDF serialization; the reference reads RDF/XML
        only). Distributed per file; each file may be one document or
        JSON-lines. Local simple @context only — see sources/jsonld.py."""
        from rippledb_spark.sources.jsonld import read_jsonld

        return cls.from_df(spark, read_jsonld(spark, path))

    @classmethod
    def from_ripplebackup(cls, spark: SparkSession, path: str) -> "TripleStore":
        """Migrate a reference-format `.ripplebackup` directory
        (head.json dicts + trees/{i}.json K²-Trees, graph.rs:54-222) into
        a store — the switch-over path for existing reference users.
        Distributed per predicate tree; see sources/ripplebackup.py."""
        from rippledb_spark.sources.ripplebackup import read_ripplebackup

        return cls.from_df(spark, read_ripplebackup(spark, path))

    def to_ripplebackup(self, path: str) -> None:
        """Export to the reference's `.ripplebackup` directory layout
        (graph.rs:630-695) — the reverse migration path. Driver-side by
        design: the target format is single-node (see
        sources/ripplebackup.write_ripplebackup)."""
        from rippledb_spark.sources.ripplebackup import write_ripplebackup

        write_ripplebackup(self.df, path)

    # -- persistence (S6) ---------------------------------------------------

    def persist_to(self, path: str) -> None:
        """Write partitioned-by-predicate parquet (S6) through the one
        colocating writer (:meth:`_write_by_predicate`); overwrite like the
        reference's wipe-and-rewrite (graph.rs:665-680)."""
        self._write_by_predicate(path, "overwrite")

    # -- versioned persistence (extension over the reference's single-slot
    #    backup: snapshots are immutable, so versions are free) -------------

    @staticmethod
    def list_versions(base_path: str) -> list[int]:
        import os

        if not os.path.isdir(base_path):
            return []
        out = []
        for name in os.listdir(base_path):
            if name.startswith("v") and name[1:].isdigit():
                out.append(int(name[1:]))
        return sorted(out)

    def persist_version(self, base_path: str) -> int:
        """Append a new immutable snapshot under ``{base}/v{n}``; returns n.

        The reference's backup is destructive single-slot (persist wipes and
        rewrites, graph.rs:665-680); with immutable snapshots, retaining
        history costs only storage — the natural extension. Writes the
        same layout as :meth:`persist_to`; an existing ``v{n}`` is an
        error, never overwritten.
        """
        versions = self.list_versions(base_path)
        n = (versions[-1] + 1) if versions else 1
        self._write_by_predicate(f"{base_path}/v{n}", "errorifexists")
        return n

    @classmethod
    def from_version(
        cls, spark: SparkSession, base_path: str, version: int | None = None
    ) -> "TripleStore":
        """Load a specific snapshot (default: latest)."""
        versions = cls.list_versions(base_path)
        if not versions:
            raise SchemaError(f"no versions under {base_path!r}")
        v = versions[-1] if version is None else version
        if v not in versions:
            raise SchemaError(f"version {v} not in {versions}")
        return cls.from_backup(spark, f"{base_path}/v{v}")

    # -- snapshot diff / change-data-feed ------------------------------------
    # Closes the version-history loop: immutable snapshots
    # (persist_version) → a change feed (diff) → incremental downstream
    # application (apply_diff). The reference has no version surface at
    # all (its persist is destructive single-slot, graph.rs:665-680).

    def diff(self, other: "TripleStore") -> DataFrame:
        """Change feed turning THIS snapshot into ``other``:
        → DataFrame(op, s, s_kind, p, o_value, o_kind, o_lang,
        o_datatype) with op ∈ {'insert', 'delete'} — inserts are triples
        only in ``other``, deletes only in this store. Because stores
        are sets, the feed is minimal and applying it to this snapshot
        reproduces ``other`` exactly (property-tested).

        100 TB shape: two null-safe anti-joins on the full triple
        identity — one shuffle each on the 7-column key; both sides
        stay distributed (nothing collects) and Catalyst/AQE picks the
        join strategy, so a small delta against a huge base plans as a
        broadcast anti-join."""
        inserts = _anti(other.df, self.df, self.KEY).select(
            F.lit("insert").alias("op"), *model.TRIPLE_KEY
        )
        deletes = _anti(self.df, other.df, self.KEY).select(
            F.lit("delete").alias("op"), *model.TRIPLE_KEY
        )
        return inserts.unionByName(deletes)

    @classmethod
    def diff_versions(
        cls,
        spark: SparkSession,
        base_path: str,
        v_from: int,
        v_to: int,
    ) -> DataFrame:
        """Change feed between two persisted snapshots (see :meth:`diff`):
        the CDC export of the version store — what downstream incremental
        consumers apply instead of re-reading the whole new snapshot."""
        a = cls.from_version(spark, base_path, v_from)
        b = cls.from_version(spark, base_path, v_to)
        return a.diff(b)

    def apply_diff(self, diff: DataFrame) -> "TripleStore":
        """Apply a :meth:`diff` feed to this snapshot: delete ops remove,
        insert ops add (idempotent set semantics, like D1/D2). Invariant:
        ``v1.apply_diff(v1.diff(v2))`` is set-equal to ``v2``."""
        dels = diff.where(F.col("op") == "delete").select(*model.TRIPLE_KEY)
        ins = diff.where(F.col("op") == "insert").select(*model.TRIPLE_KEY)
        return self.remove(dels).insert(ins)

    # -- query (Q2-Q12) -----------------------------------------------------

    def pattern(self, s: str | None, p: str | None, o: str | None) -> DataFrame:
        """One triple pattern — all 8 access paths (Q3-Q11); None = any."""
        units = (None if x is None else parse_unit(x) for x in (s, p, o))
        return pattern_filter(self.df, *units)

    def get(self, query: Sparql) -> DataFrame:
        """Reference-exact conjunctive query (Q2; graph.rs:333-413)."""
        return bgp.get(self.df, query)

    def analyze(self) -> dict[str, int]:
        """Compute + cache per-predicate cardinalities (ANALYZE statistics)
        for cost-based BGP pattern ordering. One aggregation; the map is
        small by the vertical-partitioning assumption. Invalidated
        implicitly because every DML op returns a NEW TripleStore."""
        if getattr(self, "_pred_stats", None) is None:
            self._pred_stats = bgp.predicate_counts(self.df)
        return self._pred_stats

    def select_join(self, query: Sparql, use_stats: bool = False) -> DataFrame:
        """Multi-variable BGP superset (SURVEY §4.2). ``use_stats=True``
        orders patterns by analyzed predicate cardinality instead of the
        bound-position heuristic (plan change only — bag-join results are
        order-independent)."""
        stats = self.analyze() if use_stats else None
        return bgp.select_join(self.df, query, stats=stats)

    def select_union(self, query, use_stats: bool = False) -> DataFrame:
        """SPARQL UNION superset: bag-union of two BGP arms (built via
        ``Sparql.union``); each arm plans independently."""
        stats = self.analyze() if use_stats else None
        return bgp.select_union(self.df, query, stats=stats)

    def sparql(self, text: str, use_stats: bool = False) -> DataFrame:
        """Evaluate a SPARQL query STRING (the text frontend —
        plans/text.py; grammar subset documented there). The reference's
        text surface is an unimplemented macro stub (query.rs:74-77), so
        this completes it: parse → Sparql builder → the query-form
        dispatcher both stores share (:func:`_answer`)."""
        return _answer(self, text, self.analyze() if use_stats else None)

    def describe(self, node: str) -> DataFrame:
        """SPARQL DESCRIBE (superset; completes the SELECT / ASK /
        CONSTRUCT / DESCRIBE query-form quartet — the reference has only
        its single-var SELECT, query.rs:27-63): every triple where
        ``node`` appears as subject or as a NAMED object — the simple
        symmetric description (the spec leaves DESCRIBE's extent
        implementation-defined; named-only object matching follows the
        engine's bound-value rule, graph.rs:1031-1033). One scan, one
        OR-filter; with the store partitioned by ``p`` this reads every
        predicate partition by design — a description IS a cross-predicate
        probe, the reference's s_o/__o access-path family."""
        return self.df.filter(
            (F.col("s") == F.lit(node))
            | ((F.col("o_value") == F.lit(node)) & (F.col("o_kind") == model.NAMED))
        )

    def describe_bindings(self, bindings: DataFrame) -> DataFrame:
        """DESCRIBE for a SET of nodes (r6 superset of :meth:`describe`):
        every triple whose subject or NAMED object is in ``bindings`` (a
        one-column DataFrame of node values). Two semi-joins + distinct —
        the binding set broadcasts when small; never an OR-join (which
        would plan as a nested loop)."""
        b = bindings.toDF("node").distinct()
        on_s = self.df.join(b, self.df["s"] == b["node"], "left_semi")
        on_o = self.df.filter(F.col("o_kind") == model.NAMED).join(
            b, self.df["o_value"] == b["node"], "left_semi"
        )
        return on_s.unionByName(on_o).dropDuplicates(model.TRIPLE_KEY)

    def construct(
        self, query: Sparql, template: list[list[str]], use_stats: bool = False
    ) -> "TripleStore":
        """SPARQL CONSTRUCT superset: instantiate ``template`` patterns per
        solution → a NEW TripleStore (a CONSTRUCT result is an RDF graph
        with set semantics; the builder's terms are named nodes, and
        variables lift as named nodes, src/lib.rs:17-19)."""
        stats = self.analyze() if use_stats else None
        units = Sparql().filter(template).conds
        return TripleStore(self.spark, bgp.construct(self.df, query, units, stats=stats))

    # -- iteration / export (S7, S8) ----------------------------------------

    def iter_triples(self) -> Iterator[Row]:
        """Streaming iterator over all triples (S7) — does not materialize
        the whole store on the driver."""
        return self.df.toLocalIterator()

    def to_rdf(self) -> bytes:
        """RDF/XML export (S8) — driver-side bytes, matching the reference's
        ``to_rdf`` contract (graph.rs:707-712). For stores bigger than
        driver memory use :meth:`to_ntriples`."""
        return rdfio.to_rdfxml(self.df)

    def to_ntriples(self, path: str, mode: str = "overwrite") -> None:
        """Distributed N-Triples export — executors write their partitions
        in parallel; no driver collect (the scale-path sink the reference
        lacks)."""
        rdfio.write_ntriples(self.df, path, mode=mode)

    def to_turtle(
        self,
        path: str,
        prefixes: dict[str, str] | None = None,
        mode: str = "overwrite",
    ) -> None:
        """Distributed Turtle export — executor-parallel like
        :meth:`to_ntriples`, with prefix compaction and a per-part-file
        @prefix header so each part is a standalone Turtle document."""
        from rippledb_spark.sources.turtle import write_turtle

        write_turtle(self.df, path, prefixes=prefixes, mode=mode)

    def to_rdfjson(self, path: str, mode: str = "overwrite") -> None:
        """Distributed RDF/JSON export — executor-parallel; every line of
        every part file is a complete RDF/JSON document (graph union on
        concatenation), readable back via :meth:`from_rdfjson`."""
        from rippledb_spark.sources.rdfjson import write_rdfjson

        write_rdfjson(self.df, path, mode=mode)

    def to_jsonld(self, path: str, mode: str = "overwrite") -> None:
        """Distributed flat JSON-LD export — executor-parallel; every line
        of every part file is a complete {"@graph": [...]} document (graph
        union on concatenation), readable back via :meth:`from_jsonld`."""
        from rippledb_spark.sources.jsonld import write_jsonld

        write_jsonld(self.df, path, mode=mode)

    def to_rdfxml_dir(self, path: str, mode: str = "overwrite") -> None:
        """Distributed RDF/XML export — executor-parallel like
        :meth:`to_ntriples`; each part file is a complete well-formed
        RDF/XML document (root element wrapped per partition), readable
        back via :meth:`from_rdf`. The driver-side byte-exact form stays
        :meth:`to_rdf` (reference parity, graph.rs:707-712)."""
        rdfio.write_rdfxml(self.df, path, mode=mode)

    # -- stats (Q13 analogue) -----------------------------------------------

    def count(self) -> int:
        return self.df.count()

    def stats(self) -> DataFrame:
        """Per-predicate triple counts — the observable analogue of
        ``footprint`` (graph.rs:1010-1027): one row per 'slice'."""
        return self.df.groupBy("p").agg(F.count(F.lit(1)).alias("n_triples")).orderBy("p")

    def footprint(self) -> DataFrame:
        """Byte accounting per predicate (graph.rs:1010-1027's footprint,
        re-expressed for the value model): UTF-8 payload bytes of every
        term column, summed per 'slice'. The reference counts dict +
        bitvec bytes of its physical layout; here the observable unit is
        payload bytes (the physical bytes are parquet's business). One
        aggregate over one scan — no collect."""
        payload = (
            F.octet_length("s")
            + F.octet_length("p")
            + F.octet_length("o_value")
            + F.coalesce(F.octet_length("o_lang"), F.lit(0))
            + F.coalesce(F.octet_length("o_datatype"), F.lit(0))
        )
        return (
            self.df.groupBy("p")
            .agg(
                F.count(F.lit(1)).alias("n_triples"),
                F.sum(payload.cast("long")).alias("payload_bytes"),
            )
            .orderBy("p")
        )

    def footprint_bytes(self) -> int:
        """Total payload bytes — the scalar the reference's ``footprint()``
        returns (graph.rs:1010)."""
        row = self.footprint().agg(F.sum("payload_bytes").alias("b")).collect()[0]
        return int(row["b"] or 0)


def _answer(store, text: str, stats: dict[str, int] | None = None) -> DataFrame:
    """The query-form dispatcher of both stores. A TripleStore is the
    dataset with no named graphs; a QuadStore's quads split into the
    query's default and named graphs (plans.graphs.dataset_frames). Every
    form runs plans.bgp's group evaluator; DESCRIBE reads the default graph."""
    from rippledb_spark.plans.graphs import dataset_frames
    from rippledb_spark.plans.text import (
        SparqlAsk,
        SparqlConstruct,
        SparqlDescribe,
        _pattern_vars,
        parse_sparql,
    )

    q = parse_sparql(text)
    query = getattr(q, "query", q)
    if not isinstance(store, TripleStore):
        default, named = dataset_frames(store.df, query)
    elif getattr(query, "from_graphs", None) or getattr(query, "from_named", None):
        # FROM over the dataset with no named graphs: nothing to merge (§13.2)
        no_g = F.lit(None).cast("string")
        default, named = dataset_frames(store.df.withColumn("g", no_g), query)
    else:
        default, named = store.df, None

    def solve(query: Sparql) -> DataFrame:
        return bgp._select(default, named, query, True, stats)

    if isinstance(q, SparqlDescribe):
        graph = store if named is None else store.default_graph()
        if q.var is None:
            return graph.describe(q.node)
        return graph.describe_bindings(solve(q.query))
    if isinstance(q, SparqlConstruct):
        return bgp.construct(default, q.query, q.template, solver=solve)
    if isinstance(q, SparqlAsk):
        inner = q.query
        names = _pattern_vars(inner, required=False)
        if not names:
            # variable-free ASK ('ASK { a next b }'): a ground gate
            return bgp._ask_ground(default, named, inner)
        inner.select([f"${n}" for n in names])
        # the engine's ASK convention: 0/1 rows, column ask = true
        return solve(inner).limit(1).select(F.lit(True).alias("ask"))
    if isinstance(q, Sparql):
        return solve(q)
    return bgp._union(default, named, q, True, stats)
