"""Property-based check of the BGP planner (plans/bgp.py:get) against a
brute-force Python evaluator implementing the reference's Graph::get fine
print (SURVEY §2.3, src/datastore/graph.rs:333-413):

1. projection = FIRST pattern's first variable position;
2. later patterns are EXISTS semi-joins (prune, never multiply);
3. pattern₀ duplicates are preserved;
4. bound values match only ``named`` nodes;
5. zero-variable query → ASK-style 0/1 rows;
plus the documented deviation: a failing candidate value is removed at
EVERY occurrence (graph.rs's memo bug removes only the first).

Random tiny graphs over a small vocabulary (so patterns collide often) ×
random 1-3-pattern queries. Spark runs per example, so example counts are
deliberately small; the naive evaluator is the spec.
"""

from __future__ import annotations

import random

import pytest

from rippledb_spark import model
from rippledb_spark.plans.bgp import get
from rippledb_spark.plans.sparql import Sparql, Var

IRIS = ["http://ex/a", "http://ex/b", "http://ex/c"]
PREDS = ["http://ex/p", "http://ex/q"]
LITS = ["x", "y"]
BLANKS = ["_:b1", "_:b2"]
VARS = ["$v", "$w"]

_VAL_IDX = {0: 0, 1: 2, 2: 3}  # pattern position → row value index
_KIND_IDX = {0: 1, 1: None, 2: 4}


def _random_row(rng: random.Random) -> tuple:
    s_kind = rng.choice([model.NAMED, model.BLANK])
    s = rng.choice(IRIS if s_kind == model.NAMED else BLANKS)
    p = rng.choice(PREDS)
    o_kind = rng.choice(model.NODE_KINDS)
    lang = dt = None
    if o_kind == model.NAMED:
        o = rng.choice(IRIS)
    elif o_kind == model.BLANK:
        o = rng.choice(BLANKS)
    else:
        o = rng.choice(LITS)
        if o_kind == model.LANG_LITERAL:
            lang = "en"
        elif o_kind == model.TYPED_LITERAL:
            dt = "http://www.w3.org/2001/XMLSchema#string"
    return (s, s_kind, p, o, o_kind, lang, dt)


def _random_pattern(rng: random.Random) -> list[str]:
    pat = []
    for pos, pool in ((0, IRIS + BLANKS), (1, PREDS), (2, IRIS + LITS)):
        if rng.random() < 0.45:
            pat.append(rng.choice(VARS))
        else:
            pat.append(rng.choice(pool))
    return pat


def _matches(row: tuple, cond) -> bool:
    """Reference pattern match: bound elements hit named nodes only
    (graph.rs:1031-1033); the predicate column has no kind."""
    for pos, unit in enumerate(cond):
        if isinstance(unit, Var):
            continue
        if row[_VAL_IDX[pos]] != unit.value:
            return False
        k = _KIND_IDX[pos]
        if k is not None and row[k] != model.NAMED:
            return False
    return True


def naive_get(rows: list[tuple], conds) -> list:
    """Brute-force graph.rs:333-413 semantics (see module docstring)."""
    if not conds:
        return []
    first = conds[0]
    m0 = [r for r in rows if _matches(r, first)]
    vpos = [(i, u.name) for i, u in enumerate(first) if isinstance(u, Var)]
    if not vpos:
        # ASK: 0/1 rows — true iff every pattern matches something.
        ok = all(any(_matches(r, c) for r in rows) for c in conds)
        return [True] if ok else []
    pos0, var0 = vpos[0]
    cand = [r[_VAL_IDX[pos0]] for r in m0]
    for cond in conds[1:]:
        mi = [r for r in rows if _matches(r, cond)]
        positions = [
            i for i, u in enumerate(cond) if isinstance(u, Var) and u.name == var0
        ]
        if not positions:
            # Pattern not sharing the driving var: global EXISTS gate.
            if not mi:
                cand = []
            continue
        probe = {r[_VAL_IDX[positions[0]]] for r in mi}
        cand = [v for v in cand if v in probe]
    return cand


@pytest.mark.parametrize("seed", range(30))
def test_get_matches_naive_evaluator(spark, seed):
    rng = random.Random(1000 + seed)
    rows = [_random_row(rng) for _ in range(rng.randint(0, 14))]
    conds = [_random_pattern(rng) for _ in range(rng.randint(1, 3))]
    q = Sparql().filter(conds)

    df = spark.createDataFrame(rows, schema=model.TRIPLES_SCHEMA)
    got = [r[0] for r in get(df, q).collect()]
    want = naive_get(rows, q.conds)
    assert sorted(map(str, got)) == sorted(map(str, want)), (
        f"seed={seed} rows={rows} conds={conds}"
    )


def test_get_duplicate_preservation_and_total_removal(spark):
    """Pinned example of fine print #3 + the documented deviation: a value
    with multiplicity 2 in pattern₀ keeps BOTH rows when it survives, and
    loses BOTH when a later pattern rejects it."""
    rows = [
        ("http://ex/a", model.NAMED, "http://ex/p", "x", model.LITERAL, None, None),
        ("http://ex/a", model.NAMED, "http://ex/p", "y", model.LITERAL, None, None),
        ("http://ex/b", model.NAMED, "http://ex/p", "x", model.LITERAL, None, None),
        # probe target must be a NAMED node: bound values can't reach
        # literals (fine print #4), which is itself part of this pin
        ("http://ex/a", model.NAMED, "http://ex/q", "http://ex/z", model.NAMED, None, None),
    ]
    df = spark.createDataFrame(rows, schema=model.TRIPLES_SCHEMA)
    # a matches twice in pattern₀ and survives the $v q z probe → [a, a]
    q = Sparql().filter(
        [["$v", "http://ex/p", "$o"], ["$v", "http://ex/q", "http://ex/z"]]
    )
    got = sorted(r[0] for r in get(df, q).collect())
    assert got == ["http://ex/a", "http://ex/a"]
    assert naive_get(rows, q.conds) == ["http://ex/a", "http://ex/a"]
    # with the probe rejecting everything (no named z2 triple), BOTH of
    # a's pattern₀ occurrences are removed — the documented deviation
    # from the reference's first-occurrence-only memo removal
    q2 = Sparql().filter(
        [["$v", "http://ex/p", "$o"], ["$v", "http://ex/q", "http://ex/z2"]]
    )
    got2 = [r[0] for r in get(df, q2).collect()]
    assert got2 == []
    assert naive_get(rows, q2.conds) == []


def test_order_patterns_stats_cost_ordering():
    """With ANALYZE stats, a bound-s pattern over a huge predicate must
    yield to a bare (?,p,?) dump over a tiny one — the case the
    bound-count heuristic gets backwards."""
    from rippledb_spark.plans.bgp import _order_patterns
    from rippledb_spark.plans.sparql import Sparql

    q = Sparql().filter(
        [
            ["http://ex/a", "http://ex/huge", "$x"],   # 1 bound pos beyond p
            ["$x", "http://ex/tiny", "$y"],            # predicate-only
        ]
    )
    stats = {"http://ex/huge": 10_000_000, "http://ex/tiny": 10}
    ordered = _order_patterns(q.conds, stats)
    assert ordered[0][1].value == "http://ex/tiny"
    # without stats the heuristic picks the more-bound pattern first
    assert _order_patterns(q.conds)[0][1].value == "http://ex/huge"
    # either way it is a permutation
    assert sorted(map(repr, ordered)) == sorted(map(repr, q.conds))


def test_select_join_stats_plan_is_result_identical(spark):
    """Cost-based ordering changes the join tree, never the bag result."""
    from rippledb_spark.plans.sparql import Sparql
    from rippledb_spark.store import TripleStore

    rows = [
        ("http://ex/a", "named", "http://ex/p", "http://ex/b", "named", None, None),
        ("http://ex/b", "named", "http://ex/q", "http://ex/c", "named", None, None),
        ("http://ex/a", "named", "http://ex/p", "http://ex/c", "named", None, None),
        ("http://ex/c", "named", "http://ex/q", "http://ex/d", "named", None, None),
    ]
    st = TripleStore.from_rows(spark, rows)
    q = Sparql().select(["$x", "$z"]).filter(
        [["$x", "http://ex/p", "$y"], ["$y", "http://ex/q", "$z"]]
    )
    plain = sorted(map(tuple, st.select_join(q).collect()))
    stat = sorted(map(tuple, st.select_join(q, use_stats=True).collect()))
    assert plain == stat and len(plain) == 2
    assert st.analyze() == {"http://ex/p": 2, "http://ex/q": 2}


# --------------------------------------------------------------------------
# OPTIONAL (left-join) superset: select_join with optional groups vs a
# brute-force bag-semantics evaluator (SPARQL LeftJoin on shared vars).
# --------------------------------------------------------------------------


def _pattern_solutions(rows, cond):
    sols = []
    for r in rows:
        binding, ok = {}, True
        for pos, u in enumerate(cond):
            v = r[_VAL_IDX[pos]]
            if isinstance(u, Var):
                if u.name in binding and binding[u.name] != v:
                    ok = False
                    break
                binding[u.name] = v
            else:
                if v != u.value:
                    ok = False
                    break
                k = _KIND_IDX[pos]
                if k is not None and r[k] != model.NAMED:
                    ok = False
                    break
        if ok:
            sols.append(binding)
    return sols


def _bag_join(a_sols, b_sols):
    out = []
    for a in a_sols:
        for b in b_sols:
            if all(a[k] == b[k] for k in a.keys() & b.keys()):
                out.append({**a, **b})
    return out


def naive_select_join_optional(rows, conds, optionals, names):
    acc = _pattern_solutions(rows, conds[0])
    for c in conds[1:]:
        acc = _bag_join(acc, _pattern_solutions(rows, c))
    for group in optionals:
        g = _pattern_solutions(rows, group.conds[0])
        for c in group.conds[1:]:
            g = _bag_join(g, _pattern_solutions(rows, c))
        out = []
        for a in acc:
            matches = [
                {**a, **b}
                for b in g
                if all(a[k] == b[k] for k in a.keys() & b.keys())
            ]
            out.extend(matches if matches else [a])  # NULL-extend
        acc = out
    return sorted(
        tuple(sol.get(n) for n in names) for sol in acc
    )


@pytest.mark.parametrize("seed", range(6))
def test_select_join_optional_matches_naive(spark, seed):
    from rippledb_spark.plans.bgp import select_join

    rng = random.Random(1000 + seed)
    rows = [_random_row(rng) for _ in range(rng.randint(4, 14))]

    def pattern_with(var, rng):
        pat = _random_pattern(rng)
        if not any(p == var for p in pat):
            pat[rng.choice([0, 2])] = var
        return pat

    required = [pattern_with("$v", rng) for _ in range(rng.randint(1, 2))]
    optional = [pattern_with("$v", rng) for _ in range(rng.randint(1, 2))]
    # second optional var for NULL-extension visibility
    if not any("$w" in p for p in optional):
        optional[0][2] = "$w"

    q = Sparql().select(["$v", "$w"]).filter(required).optional(optional)
    df = spark.createDataFrame(rows, model.TRIPLES_SCHEMA)
    got = sorted(map(tuple, select_join(df, q).collect()))

    conds = q.conds
    want = naive_select_join_optional(rows, conds, q.optionals, ["v", "w"])
    # None sorts: normalize via tuple of (is_none, value)
    key = lambda t: tuple((x is None, x if x is not None else "") for x in t)
    assert sorted(got, key=key) == sorted(want, key=key)


@pytest.mark.parametrize("seed", range(6))
def test_optional_sharing_no_variable_matches_naive(spark, seed):
    """SPARQL §18.5 LeftJoin: an OPTIONAL group sharing no variable with
    the required patterns extends every required row with each of its
    solutions (the cross product), or keeps the row alone when it has
    none; a ground group keeps the required rows as they are."""
    from rippledb_spark.plans.bgp import select_join

    rng = random.Random(4000 + seed)
    # a graph is a set of triples
    rows = list(dict.fromkeys(_random_row(rng) for _ in range(rng.randint(4, 12))))
    required = [["$v", *_random_pattern(rng)[1:]]]
    optional = [_random_pattern(rng) for _ in range(rng.randint(1, 2))]
    for pats, var in ((required, "$v"), (optional, "$w")):
        for pat in pats:
            pat[:] = [var if term in VARS else term for term in pat]
    q = Sparql().select(["$v", "$w"]).filter(required).optional(optional)
    if not any("$w" in pat for pat in optional):
        q.vars.pop()  # a ground group binds nothing to select
    df = spark.createDataFrame(rows, model.TRIPLES_SCHEMA)
    got = [tuple(r) for r in select_join(df, q).collect()]
    names = q.var_names()
    want = naive_select_join_optional(rows, q.conds, q.optionals, names)
    key = lambda t: tuple((x is None, x if x is not None else "") for x in t)
    assert sorted(got, key=key) == sorted(want, key=key)


# -- select_join with OPTIONAL + MINUS vs a naive evaluator ------------------
#
# The engine's multi-var evaluator uses SQL-style column joins (NULL joins
# nothing), so the naive model below implements exactly that contract:
# group solutions merge on equality over shared vars, OPTIONAL
# NULL-extends, MINUS removes on an all-shared-vars match (NULL never
# matches).


def _group_solutions(rows, conds):
    """All bag solutions of a conjunctive pattern group."""
    sols = [dict()]
    for cond in conds:
        nxt = []
        for r in rows:
            if not _matches(r, cond):
                continue
            binding = {}
            ok = True
            for pos, unit in enumerate(cond):
                if not isinstance(unit, Var):
                    continue
                v = r[_VAL_IDX[pos]]
                if unit.name in binding and binding[unit.name] != v:
                    ok = False
                    break
                binding[unit.name] = v
            if ok:
                nxt.append(binding)
        merged = []
        for s in sols:
            for b in nxt:
                shared = set(s) & set(b)
                if all(s[k] == b[k] for k in shared):
                    merged.append({**s, **b})
        sols = merged
    return sols


def naive_select_join(rows, query):
    sols = _group_solutions(rows, query.conds)
    for group in query.optionals:
        gsols = _group_solutions(rows, group.conds)
        gvars = {u.name for c in group.conds for u in c if isinstance(u, Var)}
        out = []
        for s in sols:
            shared = set(s) & gvars
            hits = [
                g for g in gsols
                if all(s[k] is not None and s[k] == g[k] for k in shared)
            ]
            if hits:
                out.extend({**s, **g} for g in hits)
            else:
                out.append({**s, **{v: None for v in gvars - set(s)}})
        sols = out
    for group in query.minuses:
        gsols = _group_solutions(rows, group.conds)
        gvars = {u.name for c in group.conds for u in c if isinstance(u, Var)}
        kept = []
        for s in sols:
            shared = set(s) & gvars
            if not shared:
                kept.append(s)
                continue
            removed = any(
                all(s[k] is not None and s[k] == g[k] for k in shared)
                for g in gsols
            )
            if not removed:
                kept.append(s)
        sols = kept
    names = query.var_names()
    return sorted(tuple(str(s.get(n)) for n in names) for s in sols)


@pytest.mark.parametrize("seed", range(10))
def test_select_join_optional_minus_matches_naive(spark, seed):
    from rippledb_spark.plans.bgp import select_join

    rng = random.Random(7000 + seed)
    rows = [_random_row(rng) for _ in range(rng.randint(4, 14))]

    def pattern_with(var):
        pat = _random_pattern(rng)
        if not any(p in VARS for p in pat):
            pat[0] = var
        elif var not in pat:
            pat[rng.choice([i for i, p in enumerate(pat) if p in VARS])] = var
        return pat

    conds = [pattern_with("$v") for _ in range(rng.randint(1, 2))]
    q = Sparql().select(["$v"]).filter(conds)
    # OPTIONAL group introducing $u, sharing $v with the base
    opt = [pattern_with("$v")]
    opt[0][2] = "$u" if opt[0][2] not in VARS else opt[0][2]
    q.optional(opt)
    q.vars.append(Var("u")) if "u" not in q.var_names() else None
    # MINUS group sharing $v
    q.minus([pattern_with("$v")])

    df = spark.createDataFrame(rows, schema=model.TRIPLES_SCHEMA)
    try:
        got = sorted(
            tuple(str(x) for x in r) for r in select_join(df, q, optimize=False).collect()
        )
    except Exception as e:
        # only acceptable structured failure: select var unbound
        assert "not bound" in str(e) or "selected vars" in str(e)
        return
    want = naive_select_join(rows, q)
    assert got == want, f"seed={seed} rows={rows}"
