"""Self-tests of the benchmark: generators, writers, the result contract
and the correctness gate. Run from the repository root:

    python3 -m pytest rdfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
from pathlib import Path

import pytest

from rdfbench import gen, workloads
from rdfbench.oracle import Oracle

ROOT = Path(__file__).resolve().parents[2]
TINY = workloads.Sizes(
    graph_orders=300, corpus_orders=200, nt_parts=20, xml_parts=20,
    nt_files=2, xml_files=2, setup_reps=1, stream=200,
)


def _benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


# -- generators -------------------------------------------------------------


def test_same_seed_same_inputs(tmp_path):
    a, b = gen.make_tables(7, 500), gen.make_tables(7, 500)
    assert gen.query_stream(7, a, 300) == gen.query_stream(7, b, 300)
    assert gen.update_chain(7, a) == gen.update_chain(7, b)
    for tag, seed in (("x", 7), ("y", 7), ("z", 8)):
        workloads.write_corpus(str(tmp_path / tag), seed, 500, 30, 30, 3, 3)
    for sub in ("nt", "rdfxml"):
        same = filecmp.dircmp(tmp_path / "x" / sub, tmp_path / "y" / sub)
        assert same.left_list and not same.diff_files and not same.left_only
        other = filecmp.dircmp(tmp_path / "x" / sub, tmp_path / "z" / sub)
        assert other.diff_files


def test_streams_cover_every_template_and_form():
    t = gen.make_tables(3, 2000)
    stream = gen.query_stream(3, t, 600)
    assert {q.template for q in stream} == set(gen.TEMPLATES)
    assert 0 < gen.repeat_share(stream) < 1
    chain = gen.update_chain(3, t)
    assert [s.form for s in chain] == list(gen.UPDATE_FORMS)
    assert all(" " not in s.text.split("priority:")[-1].split()[0] for s in chain)


def test_writers_match_the_engine_parsers(tmp_path):
    """The corpus writers and the engine's parsers agree row for row, for
    all five node kinds (parsers run without Spark here)."""
    from rippledb_spark.sources.rdfio import parse_ntriples_line, parse_rdfxml

    rows = gen.part_rows(1, 40, seed=5)
    gen.make_tables(5, 100).write(str(tmp_path))
    graph = Oracle.from_tables(str(tmp_path)).base_rows()
    kinds = {r[4] for r in graph + rows} | {r[1] for r in rows}
    assert kinds == {"named", "blank", "literal", "lang_literal", "typed_literal"}
    for r in graph + rows:
        assert parse_ntriples_line(gen.nt_line(r)) == r
    assert sorted(parse_rdfxml(gen.rdfxml_document(rows))) == sorted(rows)


# -- whole runs at a tiny size ----------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from rippledb_spark.session import get_spark

    return get_spark(app_name="rdfbench-tests")


def _run(workload: str, trace: bool, tmp_path, seed: int = 3) -> dict:
    return workloads.run(workload, seed, 1.0, trace, str(tmp_path / f"{workload}-{trace}"),
                         sizes=TINY)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_every_metric_printed_with_its_unit(spark, tmp_path, workload):
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == sorted(workloads.WORKLOADS)
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        result = _run(workload, trace, tmp_path)
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {n: v["unit"] for n, v in result["metrics"].items()}
        assert got == want
        if not trace:
            assert all(v["value"] > 0 for v in result["metrics"].values())


def test_wrong_expected_result_counts_as_failed(spark, tmp_path, monkeypatch):
    real = Oracle.expect

    def off_by_one(self, sql):
        n, digest = real(self, sql)
        return n + 1, digest

    monkeypatch.setattr(Oracle, "expect", off_by_one)
    result = _run("sparql_read", False, tmp_path)
    assert not result["correct"] and result["failed"] > 0
    assert result["metrics"]["correct_ops_ratio"]["value"] < 1.0


def test_plan_shape_counts_the_query_not_its_cached_input():
    from rdfbench.trace import own_plan_lines

    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   +- *(3) BroadcastHashJoin [o#1], [o#2], Inner, BuildRight, false
      :- InMemoryTableScan [s#15]
      :     +- InMemoryRelation [s#15], StorageLevel(memory)
      :           +- AdaptiveSparkPlan isFinalPlan=true
      :              +- Exchange hashpartitioning(s#37, 4)
      :                 +- FileScan parquet [o_orderkey#0L]
      +- BroadcastQueryStage 0
         +- BroadcastExchange HashedRelationBroadcastMode(List(input[0]))
            +- InMemoryTableScan [s#44]
+- == Initial Plan ==
   +- SortMergeJoin [o#1], [o#2], Inner
"""
    body = "\n".join(own_plan_lines(plan))
    assert body.count("InMemoryTableScan") == 2
    assert "FileScan" not in body and "hashpartitioning" not in body
    assert "SortMergeJoin" not in body and "QueryStage" not in body
    assert body.count("BroadcastExchange") == 1
