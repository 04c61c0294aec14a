"""SemDeDup-style semantic deduplication over embedding columns.

Published method (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", arXiv:2303.09540): k-means
cluster the corpus embeddings, then mark as near-duplicates the pairs
INSIDE each cluster whose cosine similarity clears a threshold — the
clustering bounds the candidate space so the quadratic all-pairs step never
runs corpus-wide. The engine tier has no reference analogue (the reference
has no vector surface at all); this composes the deterministic Lloyd
trainer (operators/clustering.py) with the JVM-side fold kernels
(functions/vector.py).

Vectors are L2-NORMALIZED FIRST, and everything — clustering AND the pair
gate — runs on the unit sphere (the paper's setup: spherical clustering
over normalized embeddings). This is what makes the blocking sound for a
COSINE gate: two colinear vectors of different magnitude are
cosine-identical but L2-distant, so raw-vector k-means could split them
into different clusters and the gate would never compare them. On unit
vectors, L2 distance is a monotone function of cosine (|a−b|² = 2−2cosθ),
so near-duplicates by the gate's own metric always co-cluster. A
zero-norm vector has no direction: it is dropped up front (both engines),
and the flags view covers the nonzero universe.

Determinism contract (what makes the DuckDB oracle possible):

- normalization: each component divided by the row's norm, double
  arithmetic, identical expression shape in both engines;
- clustering: operators/clustering.kmeans_assignments over the unit
  vectors — lowest-id init, expanded-dot-product distances, 6dp centroid
  rounding per round, fixed iteration count (its module docstring is the
  full contract);
- pair gate: the cosine of unit vectors is a single sequential-fold dot
  product, ROUNDED to 6dp before the threshold comparison so a 1-ulp
  engine difference cannot flip membership;
- keep policy: within a duplicate pair the LOWER id survives — a vector is
  "removed" iff some lower-id same-cluster vector sits within the
  threshold (the same min-id convention as operators/dedup.exact_dedup).
  The paper keeps the point farthest from the centroid; that tie-breaks on
  float distance ordering, which is not stable across engines, so the
  id convention is the deterministic stand-in.

Scale shape (100 TB): the clustering pass is the scale lever — production
picks k proportional to corpus size (the paper uses ~10k-100k clusters for
LAION-scale data) so the EXPECTED cluster size, and therefore the per-key
join fan-out of the within-cluster self-join, stays constant as the corpus
grows. The self-join shuffles (pid, cid, v) once on cid; AQE skew-join
splitting handles an oversized cluster. Nothing here is corpus-wide
all-pairs, and nothing collects to the driver. (Catalyst inlines the
norm fold into the normalize lambda — an O(dims²) expression per row —
but that is one narrow scan term, dwarfed by the pair join it feeds.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_engine.functions.vector import as_double_array, dot, norm
from rippledb_engine.operators.clustering import (
    kmeans_assignments,
    kmeans_assignments_fast,
    kmeans_assignments_sql,
)

COS_DP = 6


def unit_vectors(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """→ DataFrame(pid, v): L2-normalized double vectors; zero-norm rows
    (no direction → cosine undefined) are dropped."""
    return (
        df.select(F.col(id_col).alias("pid"), as_double_array(vec_col).alias("__r"))
        .select("pid", "__r", norm(F.col("__r")).alias("__n"))
        .where(F.col("__n") > 0)
        .select(
            "pid",
            F.transform(F.col("__r"), lambda x: x / F.col("__n")).alias("v"),
        )
    )


def unit_vectors_sql(table: str, vec_col: str, id_col: str) -> str:
    """DuckDB twin of :func:`unit_vectors` as an inline FROM subquery."""
    dv = f"CAST({vec_col} AS DOUBLE[])"
    return (
        f"(SELECT {id_col},"
        f" list_transform({dv}, x -> x / sqrt(list_dot_product({dv}, {dv})))"
        f" AS {vec_col} FROM {table}"
        f" WHERE sqrt(list_dot_product({dv}, {dv})) > 0)"
    )


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 4,
    iterations: int = 2,
    threshold: float = 0.35,
    assigned: DataFrame | None = None,
    pts: DataFrame | None = None,
) -> DataFrame:
    """→ DataFrame(cid, id_a, id_b, cos_sim): within-cluster near-duplicate
    pairs (id_a < id_b, 6dp-rounded cosine ≥ threshold).

    ``assigned`` / ``pts`` let a caller reuse one clustering pass and one
    normalization pass (typically cached/checkpointed) across the pairs
    and flags views. Supplying ``pts`` matters for wall time: the
    normalize lambda is an interpreted higher-order expression (no
    whole-stage codegen), so every re-evaluation of :func:`unit_vectors`
    re-pays an O(dims²)-per-row interpreted scan.
    """
    if pts is None:
        pts = unit_vectors(df, vec_col, id_col)
    if assigned is None:
        assigned = kmeans_assignments(pts, "v", "pid", k=k, iterations=iterations)
    tagged = assigned.select("pid", "cid").join(pts, "pid")
    a = tagged.select(
        F.col("cid"), F.col("pid").alias("id_a"), F.col("v").alias("va")
    )
    b = tagged.select(
        F.col("cid"), F.col("pid").alias("id_b"), F.col("v").alias("vb")
    )
    return (
        a.join(b, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "cid",
            "id_a",
            "id_b",
            F.round(dot(F.col("va"), F.col("vb")), COS_DP).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= F.lit(threshold))
    )


def semantic_dedup_flags(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 4,
    iterations: int = 2,
    threshold: float = 0.35,
    assigned: DataFrame | None = None,
    pairs: DataFrame | None = None,
    pts: DataFrame | None = None,
) -> DataFrame:
    """→ DataFrame(pid, cid, is_dup): every nonzero input vector with its
    cluster and whether the keep-lowest-id policy removes it.
    ``assigned`` / ``pairs`` / ``pts`` reuse already-built clustering /
    pair / unit-vector views."""
    if pts is None:
        pts = unit_vectors(df, vec_col, id_col)
    if assigned is None:
        assigned = kmeans_assignments(pts, "v", "pid", k=k, iterations=iterations)
    if pairs is None:
        pairs = semantic_dedup_pairs(
            df,
            vec_col,
            id_col,
            k=k,
            iterations=iterations,
            threshold=threshold,
            assigned=assigned,
            pts=pts,
        )
    removed = (
        pairs.select(F.col("id_b").alias("pid"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assigned.select("pid", "cid")
        .join(removed, "pid", "left")
        .select("pid", "cid", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    )


def semantic_dedup_sql(
    table: str,
    vec_col: str,
    id_col: str,
    dims: int,
    k: int = 4,
    iterations: int = 2,
    threshold: float = 0.35,
) -> str:
    """DuckDB CTE chain twin; yields relations ``sd_pairs`` (cid, id_a,
    id_b, cos_sim) and ``sd_flags`` (pid, cid, is_dup). The k-means CTEs
    consume the normalized inline subquery, so km_pts IS the unit-vector
    frame and the pair cosine is a plain dot product."""
    km = kmeans_assignments_sql(
        unit_vectors_sql(table, vec_col, id_col),
        vec_col,
        id_col,
        dims=dims,
        k=k,
        iterations=iterations,
    )
    return f"""{km},
    sd_pairs AS (
      SELECT cid, id_a, id_b, cos_sim FROM (
        SELECT a.cid, a.pid AS id_a, b.pid AS id_b,
               ROUND(list_dot_product(va.v, vb.v), {COS_DP}) AS cos_sim
        FROM km_final a
        JOIN km_final b ON a.cid = b.cid AND a.pid < b.pid
        JOIN km_pts va ON va.pid = a.pid
        JOIN km_pts vb ON vb.pid = b.pid
      ) WHERE cos_sim >= {threshold}
    ),
    sd_flags AS (
      SELECT f.pid, f.cid,
             (f.pid IN (SELECT id_b FROM sd_pairs)) AS is_dup
      FROM km_final f
    )"""


def unit_vectors_fast(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Production numpy fast path of :func:`unit_vectors` (the normalize
    lambda is an interpreted higher-order expression — O(dims²) per row,
    no codegen): one vectorized divide per Arrow batch. Same semantics,
    zero-norm rows dropped; ids must be integral (cast to long). NOT
    oracle-certified; tests pin it equal to the certified expression."""
    import numpy as np
    import pandas as pd

    src = df.select(
        F.col(id_col).cast("long").alias("pid"), as_double_array(vec_col).alias("r")
    )

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["r"].tolist(), dtype=np.float64)
            n = np.sqrt((V * V).sum(1))
            keep = n > 0
            U = V[keep] / n[keep, None]
            yield pd.DataFrame(
                {"pid": pdf["pid"].to_numpy()[keep], "v": list(map(list, U))}
            )

    return src.mapInPandas(fn, schema="pid long, v array<double>")


def semantic_dedup_pairs_fast(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 4,
    iterations: int = 2,
    threshold: float = 0.35,
    assigned: DataFrame | None = None,
    pts: DataFrame | None = None,
) -> DataFrame:
    """Production numpy fast path of :func:`semantic_dedup_pairs`: the
    within-cluster cosine gate runs as ONE matmul per cluster inside
    ``applyInPandas`` (grouped by cid) instead of a per-pair interpreted
    fold. Same 6dp rounding before the threshold, same id_a < id_b
    orientation. NOT oracle-certified (BLAS vs sequential-fold summation
    differ at the ulp level; the 6dp rounding absorbs it everywhere a
    test has looked — pytest pins pair-set equality and 1e-9 cosine
    agreement against the certified path).

    Scale shape: identical blocking to the certified path — pairs form
    only within a cluster, k ∝ corpus keeps cluster sizes constant, so
    the per-group matmul is bounded (size²·8 bytes; a 4k-vector cluster
    is a 128 MB similarity matrix — strip-mine the kernel like
    similarity.knn_blocked before raising cluster sizes past that)."""
    import numpy as np
    import pandas as pd

    if pts is None:
        pts = unit_vectors_fast(df, vec_col, id_col)
    if assigned is None:
        assigned = kmeans_assignments(pts, "v", "pid", k=k, iterations=iterations)
    tagged = assigned.select("pid", "cid").join(pts, "pid")

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("pid")
        ids = pdf["pid"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame(
                {"cid": [], "id_a": [], "id_b": [], "cos_sim": []}
            ).astype({"cid": "int64", "id_a": "int64", "id_b": "int64",
                      "cos_sim": "float64"})
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        S = np.round(V @ V.T, COS_DP)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = S[ia, ib] >= threshold
        return pd.DataFrame(
            {
                "cid": np.full(int(keep.sum()), int(pdf["cid"].iloc[0])),
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cos_sim": S[ia[keep], ib[keep]],
            }
        )

    return tagged.groupBy("cid").applyInPandas(
        kernel, schema="cid long, id_a long, id_b long, cos_sim double"
    )


def semantic_dedup_summary_fast(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 4,
    iterations: int = 2,
    threshold: float = 0.35,
) -> DataFrame:
    """Production fast path of the full SemDeDup summary — one row per
    cluster (cid, n_points, n_dup_pairs, n_removed, max_cos), the same
    shape the certified dedup_semantic_embedding query aggregates to.

    Whole pipeline in three actions and ONE shuffle: numpy normalize
    (unit_vectors_fast), numpy Lloyd carrying the vector through the
    final assignment (kmeans_assignments_fast(keep_vector=True) — no
    re-join on pid), then per-cluster ``applyInPandas`` computing pairs
    AND the keep policy AND the rollup inside one matmul kernel (the
    pair set never materializes as rows). Same 6dp rounding and
    keep-lowest-id policy; pytest pins equality to the certified query.

    Scale shape: identical blocking (within-cluster only, k ∝ corpus);
    the kernel is size²-bounded per cluster like
    semantic_dedup_pairs_fast."""
    import numpy as np
    import pandas as pd

    unit = unit_vectors_fast(df, vec_col, id_col).localCheckpoint(eager=False)
    tagged = kmeans_assignments_fast(
        unit, "v", "pid", k=k, iterations=iterations, keep_vector=True
    )

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("pid")
        cid = int(pdf["cid"].iloc[0])
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                [(cid, n, 0, 0, None)],
                columns=["cid", "n_points", "n_dup_pairs", "n_removed", "max_cos"],
            )
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        S = np.round(V @ V.T, COS_DP)
        ia, ib = np.triu_indices(n, k=1)
        keep = S[ia, ib] >= threshold
        n_pairs = int(keep.sum())
        max_cos = float(S[ia[keep], ib[keep]].max()) if n_pairs else None
        n_removed = int(np.unique(ib[keep]).size)  # higher id of each pair
        return pd.DataFrame(
            [(cid, n, n_pairs, n_removed, max_cos)],
            columns=["cid", "n_points", "n_dup_pairs", "n_removed", "max_cos"],
        )

    return tagged.groupBy("cid").applyInPandas(
        kernel,
        schema=(
            "cid long, n_points bigint, n_dup_pairs bigint,"
            " n_removed bigint, max_cos double"
        ),
    )
