"""The RDF store workloads and the child-process entry point.

Each workload is a closed loop with one client: the next operation is sent
when the previous one has returned. Set-up and an untimed warm-up happen
before the loop, the oracle comparison after it, so none of them is inside
a timed section.

Every run prints every end-to-end metric, each pooled over all of the
run's operations, so both workloads sample it densely; the figures of one
class of operation each are printed by the traced run (see NOTES.md). The
loop is a fixed number of whole cycles, each the workload's operations in
a fixed order, so every run sends the same operations.

Run through ``rdfbench/run.py``, which pins the Spark session through the
environment; ``python -m rdfbench.workloads`` expects that environment.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass

from rdfbench import gen
from rdfbench.oracle import Oracle, fingerprint
from rdfbench.trace import Recorder

# pooled over every operation of a run, so both workloads sample each one
# densely (see NOTES.md)
END_TO_END = {
    "setup_s": "s",
    "correct_ops_ratio": "ratio",
    "ops_per_s": "1/s",
    "read_s": "s",
    "stored_bytes_per_triple": "B",
}
# one class of operation each: printed by the traced run, 0 on a workload
# that never sends that class
CLASS_METRICS = {
    "load_nt_triples_per_s": "triples/s",
    "load_rdfxml_triples_per_s": "triples/s",
    "persist_s": "s",
    "restore_s": "s",
    "read_p50_s": "s",
    "read_p90_s": "s",
    "lookup_p50_s": "s",
    "join_p50_s": "s",
    "path_p50_s": "s",
    "update_p50_s": "s",
    "read_after_write_p50_s": "s",
    "chain_s": "s",
}

OP_CLASSES = ("load_nt", "load_rdfxml", "persist", "restore", "read", "update", "raw", "version")
# update_chain's chain: the two forms that re-plan the previous snapshot
CHAIN_FORMS = ("delete_where", "modify")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    u = dict(CLASS_METRICS)
    u.update({
        "session.get_spark_s": "s",
        "sources.read_ntriples.parse_s": "s",
        "sources.read_rdfxml.parse_s": "s",
        "sources.read_rdfxml.tasks": "count",
        "sources.triples_parsed": "count",
        "store.from_df.dedup_s": "s",
        "store.persist_to_s": "s",
        "store.persist_to.files": "count",
        "store.persist_to.bytes": "B",
        "store.from_backup_s": "s",
        "store.update.build_s": "s",
    })
    for d in range(1, len(CHAIN_FORMS) + 1):
        u[f"store.snapshot.jobs.d{d}"] = "count"
        u[f"store.snapshot.exchanges.d{d}"] = "count"
    u["store.persist_version_s"] = "s"
    for t in gen.TEMPLATES:
        u[f"plans.text.parse_sparql_s.{t}"] = "s"
        u[f"plans.bgp.build_s.{t}"] = "s"
        u[f"plans.bgp.exchanges.{t}"] = "count"
        u[f"plans.bgp.broadcast_joins.{t}"] = "count"
        u[f"plans.bgp.store_scans.{t}"] = "count"
        u[f"plans.bgp.rows_examined_per_result.{t}"] = "rows/row"
        u[f"result.rows.{t}"] = "count"
    u["plans.paths.jobs"] = "count"
    u["plans.update.parse_update_s"] = "s"
    u["plans.update.matched_triples.exchanges"] = "count"
    for c in OP_CLASSES:
        u[f"spark.exec_s.{c}"] = "s"
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            u[f"spark.{k}.{c}"] = "count"
    u["sparql_read.repeat_share"] = "ratio"
    u["trace.overhead_share"] = "ratio"
    return u


@dataclass(frozen=True)
class Sizes:
    """Input sizes. The defaults are the benchmark; tests pass smaller."""

    graph_orders: int = 6000  # sparql_read: TPC-H-shaped tables → ~44 K derived triples
    corpus_orders: int = 2000  # update_chain: N-Triples corpus of ~15 K derived triples
    nt_parts: int = 500  # part descriptions added to the N-Triples corpus (5 triples each)
    xml_parts: int = 1000  # part descriptions in the RDF/XML corpus
    nt_files: int = 8
    xml_files: int = 8
    setup_reps: int = 3
    stream: int = 600  # queries generated; the loop consumes a prefix


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


class Client:
    """The single closed-loop client: sends operations, keeps their
    latencies by kind, and defers each result's oracle check.

    An ``oracle`` argument is a memoised factory of an :class:`Oracle`:
    the first deferred check builds it, after the loop, so its work stays
    out of every timed section."""

    def __init__(self, spark, rec: Recorder):
        self.spark = spark
        self.rec = rec
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self._checks: list[tuple[str, object, object]] = []

    # -- bookkeeping --------------------------------------------------------

    def attempt(self, label: str, fn):
        """Run one operation; an exception counts it failed and returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"[rdfbench] operation {label} raised:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, label: str, observed, expected) -> None:
        """Compare ``observed`` with ``expected()`` once the loop is over;
        the thunks run in the order they were queued."""
        self._checks.append((label, observed, expected))

    def verify(self) -> None:
        for label, observed, expected in self._checks:
            want = expected()
            if observed != want:
                self.failed += 1
                print(f"[rdfbench] wrong result for {label}: got {observed}, "
                      f"expected {want}", file=sys.stderr)
        self._checks.clear()

    # -- operations ---------------------------------------------------------

    def read(self, store, q: gen.Query, after_write: str = ""):
        """One SPARQL query: latency from ``sparql()`` to collected rows.
        ``after_write`` names the update form the query reads after.
        Returns the result's fingerprint."""
        from rippledb_spark.plans.text import parse_sparql

        rec, cls = self.rec, ("raw" if after_write else "read")
        t0 = time.perf_counter()
        with rec.op(cls):
            if rec.enabled:
                with rec.extra(), rec.span("plans.text.parse_sparql"):
                    parse_sparql(q.text)
            with rec.span("plans.bgp.build"):
                df = store.sparql(q.text)
            with rec.span("spark.exec"):
                rows = df.collect()
        dt = time.perf_counter() - t0
        if after_write:
            self.samples[f"raw.{after_write}"].append(dt)
        self.samples["read"].append(dt)
        self.samples[f"read.{q.template}"].append(dt)
        # a kind of query: its template, and the update it reads after
        self.samples[f"query.{q.template}@{after_write}"].append(dt)
        if rec.enabled:
            t = q.template
            parse_s = rec.last_span("plans.text.parse_sparql")
            rec.record(f"plans.text.parse_sparql_s.{t}", parse_s)
            # sparql() parses again before planning
            rec.record(f"plans.bgp.build_s.{t}",
                       max(0.0, rec.last_span("plans.bgp.build") - parse_s))
            rec.record(f"result.rows.{t}", len(rows))
            shape = rec.shape_of(df)
            for key, v in shape.items():
                rec.record(f"plans.bgp.{key}.{t}", v)
            rec.record(f"plans.bgp.rows_examined_per_result.{t}",
                       store.bench_rows * shape["store_scans"] / max(1, len(rows)))
            if t == "path":
                rec.record("plans.paths.jobs", rec.last_jobs(cls))
        return fingerprint(tuple(r) for r in rows)

    def checked_read(self, store, q: gen.Query, oracle, after_write: str = "",
                     run=None) -> None:
        """:meth:`read` through ``run`` (default :meth:`attempt`), its
        result checked against ``oracle``."""
        got = (run or self.attempt)(q.template, lambda: self.read(store, q, after_write))
        if got is not None:
            self.check(q.text, got, lambda: oracle().expect(q.sql))

    def load(self, kind: str, path: str, expected: int):
        """``from_ntriples`` or ``from_rdf``, then count. A traced run then
        times the parser alone into a counting sink; the difference is
        the store's dedup."""
        from rippledb_spark.sources import rdfio
        from rippledb_spark.store import TripleStore

        rec = self.rec
        nt = kind == "nt"
        cls = "load_nt" if nt else "load_rdfxml"
        t0 = time.perf_counter()
        with rec.op(cls):
            with rec.span("store.from_ntriples" if nt else "store.from_rdf"):
                store = (TripleStore.from_ntriples if nt else TripleStore.from_rdf)(
                    self.spark, path
                )
            with rec.span("spark.exec"):
                n = store.count()
        dt = time.perf_counter() - t0
        self.samples[cls].append(dt)
        self.samples[cls + ".triples"].append(n)
        self.check(f"{cls} count", n, lambda: expected)
        if rec.enabled:
            layer = "read_ntriples" if nt else "read_rdfxml"
            reader = rdfio.read_ntriples if nt else rdfio.read_rdfxml
            with rec.extra(), rec.op("parse_" + kind):
                with rec.span(f"sources.{layer}.parse"), rec.span("spark.exec"):
                    parsed = reader(self.spark, path).count()
            parse_s = rec.last_span(f"sources.{layer}.parse")
            rec.record(f"sources.{layer}.parse_s", parse_s)
            rec.record("sources.triples_parsed", parsed)
            if nt:
                rec.record("store.from_df.dedup_s", dt - parse_s)
            else:
                rec.record("sources.read_rdfxml.tasks", rec.values["spark.tasks.parse_xml"][-1])
        return store

    def persist(self, store, path: str) -> bool:
        rec = self.rec
        t0 = time.perf_counter()
        with rec.op("persist"):
            with rec.span("store.persist_to"), rec.span("spark.exec"):
                store.persist_to(path)
        dt = time.perf_counter() - t0
        self.samples["persist"].append(dt)
        if rec.enabled:
            with rec.extra():
                files, size = _dir_bytes(path)
            rec.record("store.persist_to_s", dt)
            rec.record("store.persist_to.files", files)
            rec.record("store.persist_to.bytes", size)
        return True

    def restore(self, path: str, expected):
        """``from_backup`` + full count."""
        from rippledb_spark.store import TripleStore

        rec = self.rec
        t0 = time.perf_counter()
        with rec.op("restore"):
            with rec.span("store.from_backup"):
                store = TripleStore.from_backup(self.spark, path)
            with rec.span("spark.exec"):
                n = store.count()
        self.samples["restore"].append(time.perf_counter() - t0)
        rec.record("store.from_backup_s", rec.last_span("store.from_backup"))
        store.bench_rows = n
        self.check("restore count", n, expected)
        return store

    def update(self, prev, step: gen.Step, depth: int, oracle):
        """``update()`` acknowledged by counting the new snapshot."""
        from rippledb_spark.plans.update import DeleteWhere, matched_triples, parse_update

        rec = self.rec
        t0 = time.perf_counter()
        with rec.op("update"):
            if rec.enabled:
                with rec.extra(), rec.span("plans.update.parse_update"):
                    form = parse_update(step.text)
            with rec.span("store.update.build"):
                store = prev.update(step.text)
            with rec.span("spark.exec"):
                n = store.count()
        self.samples[f"update.{step.form}"].append(time.perf_counter() - t0)
        store.bench_rows = n
        if rec.enabled:
            rec.record("plans.update.parse_update_s", rec.last_span("plans.update.parse_update"))
            rec.record("store.update.build_s", rec.last_span("store.update.build"))
            rec.record(f"store.snapshot.jobs.d{depth}", rec.last_jobs("update"))
            rec.record(f"store.snapshot.exchanges.d{depth}", rec.shape_of(store.df)["exchanges"])
            if isinstance(form, DeleteWhere):
                with rec.extra():
                    plan = matched_triples(prev.df, form.query)
                rec.record("plans.update.matched_triples.exchanges",
                           rec.shape_of(plan)["exchanges"])
        self.check(f"{step.form} count", n, lambda: (oracle().apply(step.sql), oracle().count())[1])
        return store

    def version(self, store, base: str) -> int:
        rec = self.rec
        with rec.op("version"):
            with rec.span("store.persist_version"), rec.span("spark.exec"):
                v = store.persist_version(base)
        rec.record("store.persist_version_s", rec.last_span("store.persist_version"))
        return v

    # -- the two halves of a cycle --------------------------------------------

    def ingest(self, corpus: "Corpus", backup: str) -> None:
        """from_ntriples → count; from_rdf → count; persist_to of the
        N-Triples store and its bytes on disk."""
        nt = self.attempt("load_nt", lambda: self.load("nt", corpus.nt_dir, corpus.nt_count))
        self.attempt("load_rdfxml", lambda: self.load("xml", corpus.xml_dir, corpus.xml_count))
        if nt is not None and self.attempt("persist", lambda: self.persist(nt, backup)):
            self.samples["bytes_per_triple"].append(_dir_bytes(backup)[1] / corpus.nt_count)

    def chain(self, backup: str, steps: list[gen.Step], oracle, version_dir: str,
              first_reads: tuple[gen.Query, ...] = ()) -> None:
        """``from_backup`` → count; ``first_reads`` on the restored store;
        each update and its read-after-write query; ``persist_version``:
        ``chain_s`` is the sum of these operations' wall times. Then the
        version read back."""
        from rippledb_spark.store import TripleStore

        spent = 0.0

        def timed(label: str, fn):
            nonlocal spent
            t0 = time.perf_counter()
            try:
                return self.attempt(label, fn)
            finally:
                spent += time.perf_counter() - t0

        store = timed("restore", lambda: self.restore(
            backup, lambda: (oracle().reset(), oracle().count())[1]))
        for q in first_reads:
            if store is None:
                return
            self.checked_read(store, q, oracle, run=timed)
        for depth, step in enumerate(steps, start=1):
            if store is None:
                return
            store = timed(step.form, lambda s=store: self.update(s, step, depth, oracle))
            if store is not None:
                self.checked_read(store, step.read, oracle, step.form, run=timed)
        if store is None:
            return
        shutil.rmtree(version_dir, ignore_errors=True)
        v = timed("persist_version", lambda: self.version(store, version_dir))
        if v is None:
            return
        self.samples["chain"].append(spent)
        back = self.attempt("version restore", lambda: TripleStore.from_version(
            self.spark, version_dir, v).count())
        if back is not None:
            self.check("version restore count", back, lambda: oracle().count())


@dataclass
class Corpus:
    nt_dir: str
    xml_dir: str
    tables: gen.Tables
    nt_rows: list
    nt_count: int
    xml_count: int


def write_corpus(out: str, seed: int, n_orders: int, nt_parts: int, xml_parts: int,
                 nt_files: int, xml_files: int) -> Corpus:
    """N-Triples: the graph derived from seeded tables (its rows as the
    oracle evaluates ``TRIPLES_CTE``) plus ``nt_parts`` part descriptions,
    1 % of lines repeated. RDF/XML: ``xml_parts`` other part descriptions."""
    shutil.rmtree(out, ignore_errors=True)
    tables = gen.make_tables(seed, n_orders)
    tables.write(f"{out}/tables")
    nt_rows = Oracle.from_tables(f"{out}/tables").base_rows() + gen.part_rows(1, nt_parts, seed + 1)
    xml_rows = gen.part_rows(nt_parts + 1, xml_parts, seed + 2)
    nt_dir, xml_dir = f"{out}/nt", f"{out}/rdfxml"
    gen.write_ntriples(nt_rows, nt_dir, nt_files, seed + 3)
    gen.write_rdfxml(xml_rows, xml_dir, xml_files)
    return Corpus(nt_dir, xml_dir, tables, nt_rows, len(nt_rows), len(xml_rows))


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Workload:
    """Set-up, warm-up and closed loop of one workload. The loop runs whole
    cycles, each every operation class of the workload in a fixed order."""

    name = ""
    # a warm cycle's duration on a 4-CPU, 15 GB host: a loop of S seconds
    # runs round(S / cycle_s) cycles
    cycle_s: float
    warm_cycles = 1

    def __init__(self, client: Client, work: str, seed: int, sizes: Sizes):
        self.c = client
        self.work = work
        self.seed = seed
        self.s = sizes

    def setup_once(self) -> None:
        """Make the workload's inputs; repeated, timed, median reported."""
        raise NotImplementedError

    def cycle(self, n: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Cycles before the loop, untimed: the first run of each plan shape
        in a fresh JVM is several times slower, and the first load starts
        the Python workers."""
        for n in range(self.warm_cycles):
            self.cycle(-n)
        self.c.samples.clear()

    def loop(self, seconds: float) -> None:
        """Cycles 1, 2, …: as many as take ``seconds`` on the host
        :attr:`cycle_s` was measured on, so every run sends the same
        operations, and its medians sit at the same point of the JVM's
        warm-up whatever the host's speed."""
        for n in range(1, max(1, round(seconds / self.cycle_s)) + 1):
            self.cycle(n)

    def finish(self) -> None:
        """Untimed work after the loop."""


class SparqlRead(Workload):
    """SPARQL text queries over the derived graph, cached in memory."""

    name = "sparql_read"
    cycle_s = 4.4
    warm_cycles = 2

    def setup_once(self) -> None:
        from rippledb_spark.queries.triples import derive_triples
        from rippledb_spark.store import TripleStore

        if getattr(self, "store", None) is not None:
            self.store.df.unpersist(blocking=True)
        tables_dir = f"{self.work}/tables"
        self.tables = gen.make_tables(self.seed, self.s.graph_orders)
        self.tables.write(tables_dir)
        df = derive_triples(self.c.spark, tables_dir).persist()
        self.store = TripleStore(self.c.spark, df)
        self.store.bench_rows = df.count()
        self.queries = gen.query_stream(self.seed, self.tables, self.s.stream)
        self.sent = 0
        self.oracle = functools.cache(lambda: Oracle.from_tables(tables_dir))

    def cycle(self, n: int) -> None:
        """The stream's next round (:data:`gen.ROUND`)."""
        for q in self.queries[self.sent:self.sent + len(gen.ROUND)]:
            self.c.checked_read(self.store, q, self.oracle)
        self.sent += len(gen.ROUND)

    def finish(self) -> None:
        """The repeat share of the queries sent; the graph persisted once,
        for its bytes on disk, and read back."""
        from rippledb_spark.store import TripleStore

        self.c.rec.record("sparql_read.repeat_share",
                          gen.repeat_share(self.queries[:self.sent]))
        backup = f"{self.work}/backup"
        self.c.attempt("persist", lambda: self.store.persist_to(backup))
        self.c.samples["bytes_per_triple"].append(_dir_bytes(backup)[1] / self.store.bench_rows)
        back = self.c.attempt("backup count", lambda: TripleStore.from_backup(
            self.c.spark, backup).count())
        self.c.check("backup count", back, lambda: self.oracle().base_count())


class UpdateChain(Workload):
    """Bulk load, persist, then chained SPARQL UPDATEs over the store
    restored from that backup, cycle after cycle."""

    name = "update_chain"
    cycle_s = 10.5

    def setup_once(self) -> None:
        s = self.s
        self.corpus = write_corpus(f"{self.work}/corpus", self.seed, s.corpus_orders,
                                   s.nt_parts, s.xml_parts, s.nt_files, s.xml_files)
        rows = self.corpus.nt_rows
        self.oracle = functools.cache(lambda: Oracle.from_rows(rows))
        self.backup = f"{self.work}/backup"

    def cycle(self, n: int) -> None:
        """An ingest, which writes the backup afresh (with the same
        triples), then the ``n``-th chain on it, opened by a path query
        and an order lookup on the restored store as loaded."""
        self.c.ingest(self.corpus, self.backup)
        seed = self.seed * 1000 + n
        steps = gen.update_chain(seed, self.corpus.tables, CHAIN_FORMS)
        keys = self.corpus.tables.orders["o_orderkey"]
        first = (gen.make_query("path", int(keys[seed % len(keys)])),
                 gen.make_query("lookup", f"order:{int(keys[seed * 7 % len(keys)])}"))
        self.c.chain(self.backup, steps, self.oracle, f"{self.work}/versions", first)

    def finish(self) -> None:
        """Every triple of the last backup, against the corpus."""
        from rippledb_spark.store import TripleStore

        got = self.c.attempt("backup content", lambda: fingerprint(
            tuple(r) for r in TripleStore.from_backup(self.c.spark, self.backup).df.collect()))
        if got is not None:
            self.c.check("backup content", got, lambda: self.oracle().base_fingerprint())


WORKLOADS = {w.name: w for w in (SparqlRead, UpdateChain)}


# ---------------------------------------------------------------------------
# One run
# ---------------------------------------------------------------------------


def _by_prefix(samples: dict, prefix: str) -> list[list[float]]:
    return [v for k, v in sorted(samples.items()) if k.startswith(prefix) and v]


def _mean_of_medians(groups: list[list[float]]) -> float:
    """The mean of each group's median: a figure over operations of several
    kinds that does not jump with which kind sits in the middle."""
    return statistics.fmean(statistics.median(g) for g in groups) if groups else 0.0


def end_to_end(samples: dict, setup_s: float, attempted: int, failed: int,
               loop_ops: int, loop_s: float) -> dict[str, float]:
    """Every end-to-end metric: set-up, correctness, and figures pooled
    over every operation the loop sent."""
    for key in ("read", "bytes_per_triple"):
        if not samples.get(key):
            raise RuntimeError(f"no samples for {key}")
    return {
        "setup_s": setup_s,
        "correct_ops_ratio": (attempted - failed) / attempted,
        "ops_per_s": loop_ops / loop_s,
        "read_s": _mean_of_medians(_by_prefix(samples, "query.")),
        "stored_bytes_per_triple": statistics.median(samples["bytes_per_triple"]),
    }


def class_metrics(samples: dict) -> dict[str, float]:
    """The metrics of one class of operation each; 0 for a class the loop
    never sent. A metric that pools operations of several kinds (update
    forms, the read after each, join templates) is the mean of each kind's
    median."""

    def median_of(key: str) -> float:
        return statistics.median(samples[key]) if samples.get(key) else 0.0

    def per_s(cls: str) -> float:
        # triples loaded per second of loading, over every load of the loop
        return sum(samples[cls + ".triples"]) / sum(samples[cls]) if samples.get(cls) else 0.0

    return {
        "load_nt_triples_per_s": per_s("load_nt"),
        "load_rdfxml_triples_per_s": per_s("load_rdfxml"),
        "persist_s": median_of("persist"),
        "restore_s": median_of("restore"),
        "read_p50_s": median_of("read"),
        "read_p90_s": _p90(samples["read"]) if samples.get("read") else 0.0,
        "lookup_p50_s": median_of("read.lookup"),
        "join_p50_s": _mean_of_medians([samples[f"read.{t}"] for t in gen.JOIN_TEMPLATES
                                       if samples.get(f"read.{t}")]),
        "path_p50_s": median_of("read.path"),
        "update_p50_s": _mean_of_medians(_by_prefix(samples, "update.")),
        "read_after_write_p50_s": _mean_of_medians(_by_prefix(samples, "raw.")),
        "chain_s": median_of("chain"),
    }


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        sizes: Sizes = Sizes(), t_start: float | None = None,
        trace_path: str | None = None) -> dict:
    """One benchmark run → the result object printed as the last line."""
    t_start = time.time() if t_start is None else t_start
    rec = Recorder(enabled=trace)
    from rippledb_spark.session import get_spark

    with rec.span("session.get_spark"):
        spark = get_spark(app_name=f"rdfbench-{workload}")
    session_s = time.time() - t_start
    rec.bind(spark)
    client = Client(spark, rec)
    wl = WORKLOADS[workload](client, work, seed, sizes)
    prep = []
    for _ in range(sizes.setup_reps):
        t0 = time.perf_counter()
        wl.setup_once()
        prep.append(time.perf_counter() - t0)
    setup_s = session_s + statistics.median(prep)

    t0 = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t0
    rec.restart()
    rec.record("session.get_spark_s", rec.last_span("session.get_spark"))
    before = client.attempted
    t0 = time.perf_counter()
    wl.loop(seconds)
    loop_s = time.perf_counter() - t0
    loop_ops = client.attempted - before
    t0 = time.perf_counter()
    wl.finish()
    client.verify()
    print(f"[rdfbench] {workload}: setup {setup_s:.2f} s (reps {[round(p, 2) for p in prep]}), "
          f"warm-up {warm_s:.2f} s, loop {loop_s:.2f} s, checks {time.perf_counter() - t0:.2f} s, "
          f"{client.attempted} operations, {client.failed} failed; samples "
          + " ".join(f"{k}={len(v)}" for k, v in sorted(client.samples.items())),
          file=sys.stderr)

    if trace:
        rec.record("trace.overhead_share", rec.overhead_s / loop_s)
        units = per_layer_units()
        values = {n: _aggregate(n, rec.values.get(n)) for n in units}
        values.update(class_metrics(client.samples))
        _print_table(workload, values, units, rec)
        if trace_path:
            rec.dump(trace_path)
    else:
        units = END_TO_END
        values = end_to_end(client.samples, setup_s, client.attempted, client.failed,
                            loop_ops, loop_s)
    return {
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units},
    }


def _aggregate(name: str, xs: list[float] | None) -> float:
    """Per-layer value: the median per operation, except the parsed-triple
    count, which is a total over the loop; 0 when the loop never called
    the layer."""
    if not xs:
        return 0.0
    return float(sum(xs)) if name == "sources.triples_parsed" else statistics.median(xs)


def _print_table(workload: str, values: dict, units: dict, rec: Recorder) -> None:
    out = sys.stderr
    print(f"[rdfbench] per-layer metrics, workload {workload}", file=out)
    for n, u in units.items():
        print(f"  {n:<48} {values[n]:>14.6g} {u}", file=out)
    print("[rdfbench] self time by span (s)", file=out)
    for n, v in sorted(rec.self_times().items(), key=lambda kv: -kv[1]):
        print(f"  {n:<48} {v:>14.4f}", file=out)
    print(f"[rdfbench] tracing overhead {rec.overhead_s:.3f} s", file=out)


def stop_spark() -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, help="scratch directory for inputs and outputs")
    ap.add_argument("--trace-out", help="file the traced run writes its spans to")
    a = ap.parse_args(argv)
    t_start = float(os.environ.get("RDFBENCH_T0", time.time()))
    try:
        result = run(a.workload, a.seed, a.seconds, bool(a.trace), a.work,
                     t_start=t_start, trace_path=a.trace_out)
    finally:
        stop_spark()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
