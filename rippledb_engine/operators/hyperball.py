"""HyperBall — neighborhood-function estimation by iterating HLL
registers along edges (Boldi & Vigna 2013, "In-Core Computation of
Geometric Centralities with HyperBall: A Hundred Billion Nodes and
Beyond"; the HyperANF successor used for the Facebook four-degrees
measurement). Per node v, ball(v, t) = nodes reachable in ≤ t hops;
HyperBall keeps ONE HLL sketch per node instead of the ball set, and
each round merges every out-neighbor's sketch into the node's own —
because HLL union is per-register max, |ball| estimates for ALL nodes
and ALL radii come out of O(rounds) passes with O(V·m) state, where the
exact computation needs the O(V²) transitive closure.

Everything inherits operators/sketches.py's determinism: registers are
md5-derived (hll_idx_rho), merges are exact integer maxes, and the
estimate path has no order-sensitive float sum (the harmonic denominator
is the exact integer Σ 2^{49−M_j}) — so a DuckDB twin replays every
register of every round bit-for-bit. The per-radius SUM of node
estimates is a raw double (the registry's 1e-9-tolerance contract).

Scale shape: each round is ONE key shuffle — the edge list joins the
register table on dst (register rows fan out by in-degree, bounded by
m = 256 per node) and a (node, register)-keyed max folds the union;
state never exceeds V·m rows. This is exactly the PageRank iteration
shape with registers in place of rank mass — the whole point of the
algorithm.

Reference comparison: n/a (the reference has no graph-analytics
surface).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from rippledb_engine.operators._itergc import (
    release_iteration_garbage as _release_iteration_garbage,
)
from rippledb_engine.operators.graph import _truncate
from rippledb_engine.operators.sketches import (
    HLL_M,
    _HLL_ALPHA,
    hll_idx_rho,
)


def _ball_estimates(regs: DataFrame) -> DataFrame:
    """Per-node HLL estimate from a register frame → (node, est),
    6dp-rounded."""
    agg = regs.groupBy("node").agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - m_j AS INT))")
        ).alias("s_present"),
        F.count(F.lit(1)).cast("bigint").alias("n_registers"),
    )
    zero = F.lit(HLL_M) - F.col("n_registers")
    s_total = (F.col("s_present") + zero * F.lit(1 << 49)).cast("double")
    e_raw = F.lit(_HLL_ALPHA * HLL_M * HLL_M * float(1 << 49)) / s_total
    est = F.when(
        (e_raw <= F.lit(2.5 * HLL_M)) & (zero > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zero.cast("double")),
    ).otherwise(e_raw)
    return agg.select("node", F.round(est, 6).alias("est"))


def _ball_sum(regs: DataFrame) -> DataFrame:
    """Σ over nodes of the per-node HLL estimate → 1-row (total). The
    6dp estimates scale to EXACT integers (×10⁶) before the sum, so the
    corpus-wide total has NO order-sensitive float reduction — Spark's
    partial-agg order varies run to run (task scheduling), and a raw
    double sum here produced last-ulp noise that flipped the oracle
    gate's row sort between engines on tied rows."""
    return _ball_estimates(regs).agg(
        (
            F.sum(F.round(F.col("est") * 1e6).cast("bigint")) / F.lit(1e6)
        ).alias("total")
    )


def hyperball_neighborhood_function(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """→ DataFrame(t, hyperball_sum), t = 0..rounds: the neighborhood
    function N(t) = Σ_v |ball(v, t)| ESTIMATED — per-node 6dp-rounded
    HLL estimates, summed raw. N(0) estimates V; N(t)/N(∞) is the
    cumulative distance distribution (effective diameter = smallest t
    covering 90%). Balls follow OUT-edges; feed both directions for the
    undirected function."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("w"))
        .where(F.col("u").isNotNull() & F.col("w").isNotNull())
        .distinct()
    )
    e = _truncate(e, checkpoint_dir)
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("w").alias("node")))
        .distinct()
    )
    idx, rho = hll_idx_rho(F.col("node"))
    regs = _truncate(
        nodes.select("node", idx.alias("idx"), rho.alias("m_j")),
        checkpoint_dir,
    )
    spark = edges.sparkSession
    out = _ball_sum(regs).select(F.lit(0).alias("t"), "total")
    for t in range(1, rounds + 1):
        contrib = e.join(
            regs.withColumnRenamed("node", "w"), "w"
        ).select(F.col("u").alias("node"), "idx", "m_j")
        regs = _truncate(
            regs.unionByName(contrib)
            .groupBy("node", "idx")
            .agg(F.max("m_j").alias("m_j")),
            checkpoint_dir,
        )
        out = out.unionByName(
            _ball_sum(regs).select(F.lit(t).alias("t"), "total")
        )
    return out.select("t", F.col("total").alias("hyperball_sum"))


def hyperball_harmonic_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Harmonic centrality estimated from HyperBall's per-radius ball
    sizes (Boldi & Vigna 2013/2014 — the paper's flagship application):
    H(v) = Σ_{u reachable in ≤ rounds hops} 1/d(v, u), estimated as
    Σ_t (B_t(v) − B_{t−1}(v)) / t with the per-round HLL estimates.
    Register sets only grow, so the per-node estimate is monotone except
    at the linear-counting→raw branch boundary — negative differences
    clamp to 0 (the standard HyperBall correction; identical in the SQL
    twin). → DataFrame(node, harmonic_est)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("w"))
        .where(F.col("u").isNotNull() & F.col("w").isNotNull())
        .distinct()
    )
    e = _truncate(e, checkpoint_dir)
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("w").alias("node")))
        .distinct()
    )
    idx, rho = hll_idx_rho(F.col("node"))
    regs = _truncate(
        nodes.select("node", idx.alias("idx"), rho.alias("m_j")),
        checkpoint_dir,
    )
    ests = _ball_estimates(regs).select(
        "node", F.lit(0).alias("t"), "est"
    )
    for t in range(1, rounds + 1):
        contrib = e.join(
            regs.withColumnRenamed("node", "w"), "w"
        ).select(F.col("u").alias("node"), "idx", "m_j")
        regs = _truncate(
            regs.unionByName(contrib)
            .groupBy("node", "idx")
            .agg(F.max("m_j").alias("m_j")),
            checkpoint_dir,
        )
        ests = ests.unionByName(
            _ball_estimates(regs).select("node", F.lit(t).alias("t"), "est")
        )
    # integer-exact accumulation: diffs of 6dp estimates scale to exact
    # ×10⁶ integers, 1/t scales by lcm(1..rounds) — the sum has no
    # order-sensitive float op (see _ball_sum's note)
    L = math.lcm(*range(1, rounds + 1))
    w = Window.partitionBy("node").orderBy("t")
    diff6 = F.round(
        F.greatest(F.col("est") - F.col("prev"), F.lit(0.0)) * 1e6
    ).cast("bigint")
    return (
        ests.withColumn("prev", F.lag("est").over(w))
        .where(F.col("t") > 0)
        .groupBy("node")
        .agg(
            (
                F.sum(diff6 * F.expr(f"CAST({L} DIV t AS BIGINT)"))
                / F.lit(1e6 * L)
            ).alias("harmonic_est")
        )
    )


def exact_harmonic_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """→ DataFrame(node, harmonic_exact): Σ 1/d over nodes within
    ``rounds`` hops — the bounded-closure certification twin (small
    graphs only, like exact_neighborhood_function)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    nf = exact_neighborhood_function  # noqa: F841 (doc cross-ref)
    e = (
        edges.select(F.col(src).alias("eu"), F.col(dst).alias("ew"))
        .where(F.col("eu").isNotNull() & F.col("ew").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("eu").alias("node"))
        .unionByName(e.select(F.col("ew").alias("node")))
        .distinct()
    )
    state = nodes.select(
        F.col("node").alias("v"),
        F.col("node").alias("u"),
        F.lit(0).alias("d"),
    ).localCheckpoint(eager=True)
    frontier = state
    for t in range(1, rounds + 1):
        step = (
            frontier.join(e, frontier["u"] == e["eu"])
            .select("v", F.col("ew").alias("u"), F.lit(t).alias("d"))
            .distinct()
        )
        new = step.join(state, ["v", "u"], "left_anti").localCheckpoint(
            eager=True
        )
        state = state.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    # release superseded per-round state checkpoints (BENCH_r12 trainer-
    # garbage lesson); the final state stays referenced
    _release_iteration_garbage(state)
    # integer-exact: Σ 1/d accumulates as Σ lcm/d (an exact integer for
    # every d ≤ rounds) over one division — no float-sum order anywhere
    L = math.lcm(*range(1, rounds + 1))
    return (
        state.where(F.col("d") > 0)
        .groupBy(F.col("v").alias("node"))
        .agg(
            (
                F.sum(F.expr(f"CAST({L} DIV d AS BIGINT)")) / F.lit(float(L))
            ).alias("harmonic_exact")
        )
    )


def hyperball_sql(
    edges_rel: str,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> str:
    """DuckDB CTE twin; yields ``hyperball_nf`` (t, hyperball_sum) AND
    ``hb_exact`` (t, n_pairs_exact — the exact Σ_v |ball(v, t)| via a
    bounded closure, the certification twin). All register CTEs are
    MATERIALIZED (each round re-references the previous)."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    est = (
        f"CASE WHEN {_HLL_ALPHA * HLL_M * HLL_M * float(1 << 49)}"
        f" / CAST(s_present + ({HLL_M} - n_registers)"
        f" * CAST({1 << 49} AS BIGINT) AS DOUBLE) <= {2.5 * HLL_M}"
        f" AND {HLL_M} - n_registers > 0"
        f" THEN {float(HLL_M)} * ln({float(HLL_M)}"
        f" / CAST({HLL_M} - n_registers AS DOUBLE))"
        f" ELSE {_HLL_ALPHA * HLL_M * HLL_M * float(1 << 49)}"
        f" / CAST(s_present + ({HLL_M} - n_registers)"
        f" * CAST({1 << 49} AS BIGINT) AS DOUBLE) END"
    )

    def ball_sum(reg_rel: str, t: int) -> str:
        return f"""hb_est{t} AS MATERIALIZED (
      SELECT node, ROUND({est}, 6) AS est FROM (
        SELECT node,
               CAST(SUM(CAST(1 AS BIGINT) << (49 - m_j)) AS BIGINT)
                 AS s_present,
               CAST(COUNT(*) AS BIGINT) AS n_registers
        FROM {reg_rel} GROUP BY node
      )
    ),
    hb_sum{t} AS MATERIALIZED (
      SELECT {t} AS t,
             SUM(CAST(ROUND(est * 1000000) AS BIGINT)) / 1000000.0
               AS hyperball_sum
      FROM hb_est{t}
    )"""

    h = "md5(CAST(node AS VARCHAR))"
    parts = [
        f"""hb_e AS MATERIALIZED (
      SELECT DISTINCT {src} AS u, {dst} AS w FROM {edges_rel}
      WHERE {src} IS NOT NULL AND {dst} IS NOT NULL
    )""",
        # DISTINCT over UNION ALL, not bare UNION: under WITH RECURSIVE
        # DuckDB treats any `X UNION Y` CTE body as a recursive
        # base/step pair and skips the dedup (measured: duplicate node
        # rows inflated n_registers 4x at t=0)
        """hb_nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT u AS node FROM hb_e UNION ALL SELECT w FROM hb_e
      )
    )""",
        f"""hb_r0 AS MATERIALIZED (
      SELECT node,
             CAST(('0x' || substr({h}, 1, 2)) AS BIGINT) AS idx,
             CASE WHEN CAST(('0x' || substr({h}, 3, 12)) AS BIGINT) = 0
                  THEN 49
                  ELSE 49 - length(bin(
                         CAST(('0x' || substr({h}, 3, 12)) AS BIGINT)))
             END AS m_j
      FROM hb_nodes
    )""",
        ball_sum("hb_r0", 0),
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""hb_r{t} AS MATERIALIZED (
      SELECT node, idx, MAX(m_j) AS m_j FROM (
        SELECT node, idx, m_j FROM hb_r{t - 1}
        UNION ALL
        SELECT e.u AS node, r.idx, r.m_j
        FROM hb_e e JOIN hb_r{t - 1} r ON r.node = e.w
      ) GROUP BY node, idx
    )"""
        )
        parts.append(ball_sum(f"hb_r{t}", t))
    nf_union = "\n      UNION ALL\n      ".join(
        f"SELECT t, hyperball_sum FROM hb_sum{t}" for t in range(rounds + 1)
    )
    parts.append(f"""hyperball_nf AS (
      {nf_union}
    )""")
    # exact twin: bounded closure with hop counts (certification side —
    # O(V²) pairs, so only for small certified graphs; the consuming
    # oracle must open WITH RECURSIVE for hb_reach)
    parts.append(
        f"""hb_reach AS (
      SELECT node AS v, node AS u, 0 AS t FROM hb_nodes
      UNION
      SELECT r.v, e.w, r.t + 1
      FROM hb_reach r JOIN hb_e e ON e.u = r.u
      WHERE r.t < {rounds}
    )"""
    )
    parts.append(
        """hb_mind AS (
      SELECT v, u, MIN(t) AS d FROM hb_reach GROUP BY v, u
    )"""
    )
    parts.append(
        f"""hb_exact AS (
      SELECT ts.t, CAST(COUNT(*) AS BIGINT) AS n_pairs_exact
      FROM (SELECT UNNEST(range(0, {rounds + 1})) AS t) ts
      JOIN hb_mind m ON m.d <= ts.t
      GROUP BY ts.t
    )"""
    )
    # harmonic centrality off the per-round estimates (clamped diffs),
    # plus its exact bounded-closure twin
    est_union = "\n      UNION ALL\n      ".join(
        f"SELECT {t} AS t, node, est FROM hb_est{t}"
        for t in range(rounds + 1)
    )
    parts.append(f"""hb_ests AS (
      {est_union}
    )""")
    # integer-exact sums (no order-sensitive float reduction; the Spark
    # side mirrors this — see hyperball_harmonic_centrality)
    lcm = math.lcm(*range(1, rounds + 1)) if rounds >= 1 else 1
    parts.append(
        f"""hyperball_harmonic AS (
      SELECT node,
             SUM(CAST(ROUND(GREATEST(est - prev, 0.0) * 1000000) AS BIGINT)
                 * CAST({lcm} // t AS BIGINT)) / {float(1_000_000 * lcm)}
               AS harmonic_est
      FROM (
        SELECT node, t, est,
               lag(est) OVER (PARTITION BY node ORDER BY t) AS prev
        FROM hb_ests
      ) WHERE t > 0 GROUP BY node
    )"""
    )
    parts.append(
        f"""hb_harm_exact AS (
      SELECT v AS node,
             SUM(CAST({lcm} // d AS BIGINT)) / {float(lcm)} AS harmonic_exact
      FROM hb_mind WHERE d > 0 GROUP BY v
    )"""
    )
    return ",\n    ".join(parts)


def exact_neighborhood_function(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """→ DataFrame(t, n_pairs_exact): the EXACT Σ_v |ball(v, t)| by
    bounded closure — the certification twin (O(V²) pair state, the
    closure-form SCC contract: small entity/state graphs only; at
    webgraph scale the whole point is that HyperBall replaces this)."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = (
        edges.select(F.col(src).alias("eu"), F.col(dst).alias("ew"))
        .where(F.col("eu").isNotNull() & F.col("ew").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("eu").alias("node"))
        .unionByName(e.select(F.col("ew").alias("node")))
        .distinct()
    )
    state = nodes.select(
        F.col("node").alias("v"),
        F.col("node").alias("u"),
        F.lit(0).alias("d"),
    ).localCheckpoint(eager=True)
    frontier = state
    for t in range(1, rounds + 1):
        step = (
            frontier.join(e, frontier["u"] == e["eu"])
            .select("v", F.col("ew").alias("u"), F.lit(t).alias("d"))
            .distinct()
        )
        new = step.join(state, ["v", "u"], "left_anti").localCheckpoint(
            eager=True
        )
        state = state.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    _release_iteration_garbage(state)
    per_d = state.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ts = edges.sparkSession.range(rounds + 1).select(
        F.col("id").cast("int").alias("t")
    )
    return (
        ts.join(per_d, per_d["d"] <= ts["t"])
        .groupBy("t")
        .agg(F.sum("n").cast("bigint").alias("n_pairs_exact"))
    )
