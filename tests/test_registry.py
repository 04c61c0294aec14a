"""Registry / driver-contract integrity."""

from __future__ import annotations

import pytest

from rippledb_spark.registry import all_oracles, all_queries


def test_registry_shape():
    qs, os_ = all_queries(), all_oracles()
    assert len(qs) >= 40
    assert set(os_) <= set(qs)
    # the vast majority must be oracle-checked, not rows-only (rows-only is
    # reserved for Spark-native-hash / iterative / sketch ops by design)
    assert len(os_) >= len(qs) - 8
    for name, sql in os_.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.columns == ["c"]
    assert len(df.collect()) >= 1


@pytest.mark.parametrize("name", ["bgp_get_building_in_nation0"])
def test_sample_queries_run_at_smoke_sf(spark, sf_dir, name):
    fn = all_queries()[name]
    df = fn(spark, sf_dir)
    assert df.count() >= 0


def test_library_order_is_registration_order():
    """all_queries() must be deterministic (registration order), with the
    driver-window rotation living only in the __spark_entry__ adapter."""
    import __spark_entry__ as E
    import rippledb_spark.registry as R

    lib_names = list(R.all_queries())
    assert lib_names == [q.name for q in R.registered_defs()]
    # the adapter reorders but never adds/drops
    assert sorted(lib_names) == sorted(E.queries())


def test_rotation_bands_never_certified_then_stale_headline(monkeypatch):
    """__spark_entry__.queries() order feeds the driver's 50-query
    certification window — three bands (r8 tiering policy): (1) every
    never-certified query first, (2) headline queries ≥2 rounds stale,
    (3) the rest least-recently-certified first (recency rotation)."""
    import __spark_entry__ as R
    from rippledb_spark.registry import tier

    names = list(R.queries())
    last = R._last_green_round()
    cur = max(last.values(), default=0)

    def band(n):
        if n not in last:
            return 0
        if tier(n) == "headline" and cur - last[n] >= 2:
            return 1
        return 2

    bands = [band(n) for n in names]
    assert bands == sorted(bands)
    # within band 3, non-decreasing last-green rounds (stalest first)
    tail = [last[n] for n in names if band(n) == 2]
    assert tail == sorted(tail)
    # the first 50 (the driver window) contain every never-certified query
    # (or are all never-certified, if more than 50 are pending)
    window = set(names[:50])
    pending = [n for n in names if n not in last]
    if len(pending) <= 50:
        assert set(pending) <= window
    # ...and stale-headline band members land in the window right after
    stale_headline = [n for n in names if band(n) == 1]
    if len(pending) + len(stale_headline) <= 50:
        assert set(stale_headline) <= window


def test_resample_fill_rejects_multi_count_step(spark):
    from rippledb_engine.operators.timeseries import resample_fill

    df = spark.range(1).selectExpr(
        "1 as k", "timestamp'2024-01-01' as ts", "1.0 as v"
    )
    with __import__("pytest").raises(ValueError, match="count-1 interval"):
        resample_fill(df, "k", "ts", "v", step="15 minutes")


def _module_path(root, dotted):
    """Source file of ``dotted`` under ``root`` (package or module), or None."""
    base = root.joinpath(*dotted.split("."))
    for cand in (base / "__init__.py", base.with_suffix(".py")):
        if cand.is_file():
            return cand
    return None


def _top_level_names(tree):
    """Names a module binds at import time: defs, classes, assignments and
    imports, including those under top-level ``if``/``try`` blocks."""
    import ast

    names: set[str] = set()
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                names.add((a.asname or a.name).split(".")[0])
        elif isinstance(node, (ast.If, ast.Try)):
            stack.extend(node.body + node.orelse)
            stack.extend(getattr(node, "finalbody", []))
            for h in getattr(node, "handlers", []):
                stack.extend(h.body)
    return names


def test_every_package_import_resolves():
    """Every ``rippledb_spark``/``rippledb_engine`` import in both packages,
    tests, tools, rdfbench, ``bench.py`` and ``__spark_entry__.py`` —
    including lazy imports inside functions — names an existing module, or
    an attribute that module defines. A top-level import check alone would
    miss a lazy import left pointing at a deleted or moved module."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    files = [root / "__spark_entry__.py", root / "bench.py"]
    for d in ("rippledb_spark", "rippledb_engine", "tests", "tools", "rdfbench"):
        files += sorted((root / d).rglob("*.py"))
    names_of: dict[Path, set[str]] = {}

    def defines(dotted, attr):
        if _module_path(root, f"{dotted}.{attr}") is not None:
            return True
        path = _module_path(root, dotted)
        if path not in names_of:
            names_of[path] = _top_level_names(ast.parse(path.read_text()))
        return attr in names_of[path]

    checked, broken = 0, []
    for f in files:
        for node in ast.walk(ast.parse(f.read_text(), filename=str(f))):
            if isinstance(node, ast.Import):
                refs = [(a.name, None) for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
                refs = [(node.module, a.name) for a in node.names]
            else:
                continue
            for mod, attr in refs:
                if mod.split(".")[0] not in ("rippledb_spark", "rippledb_engine"):
                    continue
                checked += 1
                where = f"{f.relative_to(root)}:{node.lineno}"
                if _module_path(root, mod) is None:
                    broken.append(f"{where} {mod}")
                elif attr is not None and attr != "*" and not defines(mod, attr):
                    broken.append(f"{where} {mod}.{attr}")
    assert checked > 100
    assert broken == []


def test_store_never_imports_engine():
    """The RDF store stands alone: no module under ``rippledb_spark/``
    imports ``rippledb_engine``, at top level or lazily."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    offenders = []
    for f in sorted((root / "rippledb_spark").rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text(), filename=str(f))):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
                mods = [node.module]
            else:
                continue
            offenders += [
                f"{f.relative_to(root)}:{node.lineno} {m}"
                for m in mods
                if m.split(".")[0] == "rippledb_engine"
            ]
    assert offenders == []
