"""Span and count recorder for the traced run.

Spans are recorded from the benchmark's own calls into each engine layer;
the engine itself is not instrumented. Each operation the client sends
gets an id and its own Spark job group, so jobs, stages and tasks are read
back from ``statusTracker`` per operation. Everything stays in memory until
:meth:`Recorder.dump` writes it out at the end of the run.

With ``enabled=False`` every method is a no-op, so the untraced run that
produces the end-to-end metrics pays nothing for the recorder.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

_EXCHANGE = re.compile(r"\b(?:ShuffleExchange|BroadcastExchange|Exchange)\b")
_BROADCAST_JOIN = re.compile(r"\bBroadcast(?:HashJoin|NestedLoopJoin)\b")
_STORE_SCAN = re.compile(r"\b(?:InMemoryTableScan|FileScan parquet|Scan parquet)\b")


def _indent(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-|"))


def own_plan_lines(text: str) -> list[str]:
    """The operator lines of a physical plan string that belong to the
    query itself: the final adaptive plan, without the plans of cached
    relations it reads (printed under each ``InMemoryRelation``) and
    without adaptive query-stage wrappers, which repeat their exchange."""
    out: list[str] = []
    skip_below = None
    for line in text.splitlines():
        ind = _indent(line)
        if skip_below is not None:
            if ind > skip_below:
                continue
            skip_below = None
        if "== Initial Plan ==" in line:
            break
        if "InMemoryRelation" in line:
            skip_below = ind
        if "QueryStage" not in line:
            out.append(line)
    return out


def plan_shape(df) -> dict[str, int]:
    """Exchanges, broadcast joins and store scans in ``df``'s physical
    plan (the final adaptive plan once ``df`` has been executed)."""
    body = "\n".join(own_plan_lines(df._jdf.queryExecution().executedPlan().toString()))
    return {
        "exchanges": len(_EXCHANGE.findall(body)),
        "broadcast_joins": len(_BROADCAST_JOIN.findall(body)),
        "store_scans": len(_STORE_SCAN.findall(body)),
    }


class Recorder:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.values: dict[str, list[float]] = defaultdict(list)
        self.overhead_s = 0.0
        self._booking = False
        self._stack: list[int] = []
        self._op: str | None = None
        self._n_ops = 0

    def bind(self, spark) -> None:
        self.spark = spark

    def restart(self) -> None:
        """Drop values and overhead recorded so far (warm-up work); the
        spans stay for the dump."""
        self.values.clear()
        self.overhead_s = 0.0

    @contextmanager
    def extra(self):
        """Work only a traced run does (reading job groups and plans, the
        extra parses): its time is booked as tracing overhead. Nested
        blocks are booked once, by the outermost."""
        if not self.enabled or self._booking:
            yield
            return
        self._booking = True
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t
            self._booking = False

    @contextmanager
    def span(self, name: str):
        """Time a call into one layer; nests under the open span."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    @contextmanager
    def op(self, cls: str):
        """One client operation of class ``cls``: a root span plus a Spark
        job group whose jobs, stages and tasks are tallied afterwards."""
        if not self.enabled:
            yield
            return
        self._n_ops += 1
        self._op = f"{cls}-{self._n_ops}"
        sc = self.spark.sparkContext
        sc.setJobGroup(self._op, cls)
        try:
            with self.span(cls):
                yield
        finally:
            with self.extra():
                self._tally(cls)

    def _tally(self, cls: str) -> None:
        """Jobs, stages and tasks of the open operation's job group."""
        sc = self.spark.sparkContext
        jobs = stages = tasks = failed = 0
        tracker = sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(self._op):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks + st.numFailedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        for key, v in (("jobs", jobs), ("stages", stages), ("tasks", tasks),
                       ("failed_tasks", failed)):
            self.values[f"spark.{key}.{cls}"].append(v)
        self.values[f"spark.exec_s.{cls}"].append(self.op_time("spark.exec"))
        sc.setJobGroup("rdfbench-idle", "between operations")
        self._op = None

    def last_jobs(self, cls: str) -> int:
        return int(self.values[f"spark.jobs.{cls}"][-1]) if self.enabled else 0

    def op_time(self, name: str) -> float:
        """Total duration of spans called ``name`` in the open operation."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["op"] == self._op and s["name"] == name and s["end"] is not None
        )

    def record(self, name: str, value: float) -> None:
        if self.enabled:
            self.values[name].append(value)

    def shape_of(self, df) -> dict[str, int]:
        """:func:`plan_shape`, its cost booked as tracing overhead."""
        with self.extra():
            return plan_shape(df)

    def last_span(self, name: str) -> float:
        """Duration of the most recent span called ``name``."""
        for s in reversed(self.spans):
            if s["name"] == name and s["end"] is not None:
                return s["end"] - s["start"]
        return 0.0

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus direct children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "values": self.values,
                       "self_s": self.self_times(), "overhead_s": self.overhead_s}, fh)
