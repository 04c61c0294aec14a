"""Distributed Lloyd k-means over embedding columns (engine tier, §2.4 —
the full-corpus trainer complementing similarity.ivf_topk's bounded-sample
quantizer fit; the reference has no vector surface at all).

Determinism contract (what makes the DuckDB oracle possible):

- init: the k lowest-id vectors, cluster ids 0..k-1 in id order — no RNG;
- assignment: squared L2 expanded as ``v·v − 2·v·c + c·c`` with every dot
  product a sequential left-to-right double fold (functions/vector.dot ≡
  DuckDB ``list_dot_product``), argmin tie-broken by cluster id;
- update: per-dimension mean ROUNDED to 6dp each round, so both engines
  re-enter the next round from bit-identical centroids (the same
  convention as the certified embedding_centroids query); an emptied
  cluster drops out (its id yields no further rows) rather than being
  re-seeded — re-seeding needs RNG, which would break the twin.
- iteration count is FIXED (no convergence test): the oracle is the same
  computation unrolled, and a data-dependent round count cannot unroll.

Scale shape: centroids are k×dims — always broadcast; one Lloyd round is
one broadcast-join assignment (no shuffle of the points), one
(cid, dim)-keyed mean (uniform: ≤ k×dims groups), and one k-row rollup.
The corpus is scanned once per round; a production loop would cache the
points DataFrame — left out here so the registered query stays a pure
plan (the driver re-runs it cold).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from rippledb_engine.functions.vector import as_double_array, dot

ROUND_DP = 6


def _dist2(v, c):
    # v·v − 2·v·c + c·c, NOT Σ(x−y)²: DuckDB has no zip_with, so the twin
    # needs a list_dot_product-only expansion — Spark mirrors it exactly.
    return dot(v, v) - F.lit(2.0) * dot(v, c) + dot(c, c)


def kmeans_assignments(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 4,
    iterations: int = 2,
) -> DataFrame:
    """→ DataFrame(pid, cid, d2): final cluster assignment and squared
    distance for every input vector after ``iterations`` Lloyd rounds."""
    if k <= 0 or iterations <= 0:
        raise ValueError("k and iterations must be positive")
    pts = df.select(
        F.col(id_col).alias("pid"), as_double_array(vec_col).alias("v")
    )
    cents = (
        pts.orderBy("pid")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("pid")) - 1)
            .cast("bigint")
            .alias("cid"),
            F.col("v").alias("c"),
        )
    )

    def assign(cs: DataFrame) -> DataFrame:
        a = pts.crossJoin(F.broadcast(cs)).select(
            "pid",
            "v",
            "cid",
            _dist2(F.col("v"), F.col("c")).alias("d2"),
        )
        best = a.groupBy("pid").agg(
            F.min(F.struct("d2", "cid")).alias("m"), F.first("v").alias("v")
        )
        return best.select(
            "pid", "v", F.col("m.cid").alias("cid"), F.col("m.d2").alias("d2")
        )

    for _ in range(iterations - 1):
        assigned = assign(cents)
        cents = (
            assigned.select("cid", F.posexplode("v").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(F.round(F.avg("x"), ROUND_DP).alias("x"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "x"))),
                    lambda s: s["x"],
                ).alias("c")
            )
        )
    return assign(cents).select("pid", "cid", "d2")


def kmeans_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 4,
    iterations: int = 2,
) -> DataFrame:
    """→ DataFrame(cid, c): the centroids the FINAL assignment round of
    :func:`kmeans_assignments` uses (same contract — lowest-id init, 6dp
    rounding per round, emptied clusters drop out). Exposed for
    consumers that need the codebook itself, e.g. product quantization
    (operators/pq.py): pq's ADC distances read centroid VALUES, not just
    memberships. The SQL twin is the ``{prefix}_c{iterations-1}``
    relation of :func:`kmeans_assignments_sql`."""
    if k <= 0 or iterations <= 0:
        raise ValueError("k and iterations must be positive")
    pts = df.select(
        F.col(id_col).alias("pid"), as_double_array(vec_col).alias("v")
    )
    cents = (
        pts.orderBy("pid")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("pid")) - 1)
            .cast("bigint")
            .alias("cid"),
            F.col("v").alias("c"),
        )
    )
    for _ in range(iterations - 1):
        a = pts.crossJoin(F.broadcast(cents)).select(
            "pid", "v", "cid", _dist2(F.col("v"), F.col("c")).alias("d2")
        )
        assigned = (
            a.groupBy("pid")
            .agg(F.min(F.struct("d2", "cid")).alias("m"), F.first("v").alias("v"))
            .select("pid", "v", F.col("m.cid").alias("cid"))
        )
        cents = (
            assigned.select("cid", F.posexplode("v").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(F.round(F.avg("x"), ROUND_DP).alias("x"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "x"))),
                    lambda s: s["x"],
                ).alias("c")
            )
        )
    return cents


def kmeans_assignments_sql(
    table: str,
    vec_col: str,
    id_col: str,
    dims: int,
    k: int = 4,
    iterations: int = 2,
    prefix: str = "km",
    init_rel: str | None = None,
) -> str:
    """DuckDB CTE chain unrolling the identical Lloyd rounds; yields a
    relation ``{prefix}_final`` with columns (pid, cid, d2). ``prefix``
    namespaces the relations so several chains (e.g. one per product-
    quantization subspace) compose inside one WITH; the final-round
    codebook is the ``{prefix}_c{iterations-1}`` relation (cid, c) —
    the SQL twin of :func:`kmeans_centroids`. ``init_rel`` (r12) names
    a relation exposing (cid, c) that WARM-STARTS the chain in place
    of the lowest-pid init — the OPQ alternation's monotonicity device
    (Lloyd from the previous round's codebooks can only reduce
    error)."""
    if k <= 0 or iterations <= 0:
        raise ValueError("k and iterations must be positive")
    d2 = (
        "(list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.c)"
        " + list_dot_product(c.c, c.c))"
    )
    if init_rel is not None:
        c0 = f"{prefix}_c0 AS (SELECT cid, c FROM {init_rel})"
    else:
        c0 = f"""{prefix}_c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY pid) - 1 AS BIGINT) AS cid,
             v AS c
      FROM (SELECT * FROM {prefix}_pts ORDER BY pid LIMIT {k})
    )"""
    parts = [
        f"{prefix}_pts AS (SELECT {id_col} AS pid, CAST({vec_col} AS DOUBLE[]) AS v"
        f" FROM {table})",
        c0,
    ]
    prev_c = f"{prefix}_c0"
    for r in range(1, iterations + 1):
        parts.append(
            f"""{prefix}_a{r} AS (
      SELECT pid, v, cid, d2 FROM (
        SELECT p.pid, p.v, c.cid, {d2} AS d2,
               row_number() OVER (PARTITION BY p.pid ORDER BY {d2}, c.cid)
                 AS rn
        FROM {prefix}_pts p, {prev_c} c
      ) WHERE rn = 1
    )"""
        )
        if r < iterations:
            parts.append(
                f"""{prefix}_c{r} AS (
      SELECT cid, list(x ORDER BY i) AS c FROM (
        SELECT cid, i, ROUND(AVG(v[i]), {ROUND_DP}) AS x
        FROM {prefix}_a{r}, generate_series(1, {dims}) AS s(i)
        GROUP BY cid, i
      ) GROUP BY cid
    )"""
            )
            prev_c = f"{prefix}_c{r}"
    parts.append(
        f"{prefix}_final AS (SELECT pid, cid, d2 FROM {prefix}_a{iterations})"
    )
    return ",\n    ".join(parts)


def kmeans_assignments_fast(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 4,
    iterations: int = 2,
    keep_vector: bool = False,
) -> DataFrame:
    """Production numpy fast path of :func:`kmeans_assignments` — same
    contract (lowest-id init, v·v−2v·c+c·c distances, argmin tie-broken
    by lowest cid, 6dp-rounded centroid means, emptied clusters drop
    out), but distances run as one matmul per Arrow batch instead of
    interpreted fold expressions, and each round's centroid update is a
    per-batch partial-sum ``mapInPandas`` plus a bounded (≤ batches×k
    rows) driver combine.

    NOT oracle-certified: BLAS summation order differs from the
    sequential fold at the ulp level, so d2 values can differ by ~1e-15
    relative — after the 6dp centroid rounding the ROUNDS re-enter
    bit-identical, and tests pin assignments equal to the certified path
    on the test corpora. Use the certified form where the DuckDB twin
    must replay; use this where throughput matters.

    Scale shape: identical to the certified path — the points never
    shuffle (per-batch partials), centroids are k×dims broadcast via the
    task closure, and the per-round driver combine is k-bounded, not
    corpus-bounded."""
    import numpy as np
    import pandas as pd

    if k <= 0 or iterations <= 0:
        raise ValueError("k and iterations must be positive")
    pts = df.select(
        F.col(id_col).cast("long").alias("pid"), as_double_array(vec_col).alias("v")
    )
    init = pts.orderBy("pid").limit(k).collect()  # k×dims — always tiny
    cids = np.arange(len(init), dtype=np.int64)
    C = np.array([r["v"] for r in init], dtype=np.float64)

    def _assign_np(V: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
        # v·v − 2 v·c + c·c per (point, centroid); argmin takes the FIRST
        # minimum = lowest index = lowest cid (cids stay sorted)
        d2 = (
            (V * V).sum(1)[:, None]
            - 2.0 * (V @ C.T)
            + (C * C).sum(1)[None, :]
        )
        return d2.argmin(1), d2

    def _partials(C: "np.ndarray", n_live: int):
        def fn(it):
            for pdf in it:
                if len(pdf) == 0:
                    continue
                V = np.array(pdf["v"].tolist(), dtype=np.float64)
                a, _ = _assign_np(V, C)
                rows = []
                for j in range(n_live):
                    m = a == j
                    cnt = int(m.sum())
                    if cnt:
                        rows.append((j, V[m].sum(0).tolist(), cnt))
                yield pd.DataFrame(rows, columns=["j", "s", "n"])
        return fn

    for _ in range(iterations - 1):
        part = pts.mapInPandas(
            _partials(C, len(cids)), schema="j long, s array<double>, n long"
        ).collect()
        sums = np.zeros_like(C)
        counts = np.zeros(len(cids))
        for r in part:
            sums[r["j"]] += np.asarray(r["s"])
            counts[r["j"]] += r["n"]
        live = counts > 0  # emptied clusters drop out, like the certified path
        cids = cids[live]
        C = np.round(sums[live] / counts[live, None], ROUND_DP)

    final_cids, final_C = cids.copy(), C.copy()

    def _final(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            a, d2 = _assign_np(V, final_C)
            out = {
                "pid": pdf["pid"].to_numpy(),
                "cid": final_cids[a],
                "d2": d2[np.arange(len(a)), a],
            }
            if keep_vector:  # saves the caller a re-join on pid
                out["v"] = pdf["v"]
            yield pd.DataFrame(out)

    schema = "pid long, cid long, d2 double"
    if keep_vector:
        schema += ", v array<double>"
    return pts.mapInPandas(_final, schema=schema)
