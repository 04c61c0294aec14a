"""OPQ-lite: PCA-rotated product quantization (Ge et al. 2013,
"Optimized Product Quantization" — the public intuition: rotate the
space so variance concentrates in few coordinates before splitting into
subspaces; FAISS ships the same recipe as a PCA pre-transform in front
of PQ). Full OPQ alternates rotation and codebook updates; the -lite
form here is the deterministic first step — project onto the top-R
principal components (operators/pca.py, the r10 deflation machinery)
and PQ-encode the R-dim rotated vectors.

When it helps: anisotropic embedding corpora (variance concentrated in
a low-dimensional subspace, dimensions correlated) — there the rotation
packs nearly all the signal into the kept coordinates and recall jumps
(pinned ~6× on the planted anisotropic fixture in pytest and visible in
the registered row's recall pair). When it doesn't: isotropic corpora
(nothing to concentrate) — the truncation then DISCARDS variance and
plain PQ wins; the operator documents this honestly rather than
pretending rotation is free recall.

Replayability: the rotation is pca_top_components' certified 6dp
trajectory; projections are 6dp-rounded index-ordered folds
(pca_project); the PQ stage is the certified pq_codes contract. The
whole chain replays in DuckDB (pq_rotated_sql).

Scale shape: one O(n·d²) covariance pass + R·iterations d-row rounds
(corpus-independent) + one projection pass, then PQ's documented
shape. The EXACT certification twin measures recall against true
neighbors in the ORIGINAL space (bounded nq crossJoin, the house ANN
twin pattern) — production drops it.

Reference comparison: n/a (no vector surface in the reference).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from rippledb_engine.functions.vector import as_double_array
from rippledb_engine.operators._itergc import (
    release_iteration_garbage as _release_iteration_garbage,
)
from rippledb_engine.operators.pca import (
    pca_project,
    pca_top_components,
    pca_top_components_sql,
)
from rippledb_engine.operators.clustering import kmeans_assignments_sql
from rippledb_engine.operators.pca import _dot
from rippledb_engine.operators.pq import ADC_DP, _dist2, pq_adc_sql, pq_codes


def rotate_vectors(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    r: int,
    pca_iterations: int = 6,
    comps: DataFrame | None = None,
) -> DataFrame:
    """→ DataFrame(id, rv array<double>[r]): each vector's 6dp-rounded
    coordinates in the top-``r`` principal-component basis (centered —
    pca_project's contract), component order = decreasing eigenvalue.
    Pass ``comps`` (pca_top_components output) to rotate with an
    ALREADY-TRAINED basis — the single definition of the projection
    assembly, shared with train_rotated_index so training and serving
    can't drift."""
    if comps is None:
        comps = pca_top_components(
            df, vec_col, dims, n_components=r, iterations=pca_iterations
        ).localCheckpoint(eager=True)
    proj = pca_project(df, vec_col, id_col, comps, dims)
    return proj.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("component", "coord"))),
            lambda s: s["coord"],
        ).alias("rv")
    )


def pq_rotated_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    r: int = 8,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    pca_iterations: int = 6,
    n_queries: int = 3,
    topk: int = 5,
) -> DataFrame:
    """Rotated-PQ ANN with the original-space recall twin:
    → DataFrame(q_pid, rank, pid, adc_d2, in_exact_topk) — ADC ranks in
    the R-dim rotated space; ``in_exact_topk`` marks membership in the
    EXACT full-dimension top-``topk`` of the ORIGINAL vectors (not the
    rotated ones — truncation changes distances, so recall must be
    judged against true neighbors)."""
    if r % m:
        raise ValueError(f"r {r} not divisible into {m} subspaces")
    rot = rotate_vectors(df, vec_col, id_col, dims, r, pca_iterations)
    rdf = rot.select(F.col("id").alias("pid"), "rv").localCheckpoint(
        eager=True
    )
    return _adc_with_original_exact(
        rdf, df, vec_col, id_col, r, m, k, iterations, n_queries, topk
    )


def _adc_with_original_exact(
    rdf: DataFrame,
    df: DataFrame,
    vec_col: str,
    id_col: str,
    r: int,
    m: int,
    k: int,
    iterations: int,
    n_queries: int,
    topk: int,
    init_books: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k in a rotated (pid, rv[r]) space with ``in_exact_topk``
    judged against the ORIGINAL vectors — the shared tail of the
    rotated and alternating pipelines (one definition, so the recall
    comparison between variants can never drift on mechanics)."""
    codes, books = pq_codes(
        rdf, "rv", "pid", r, m=m, k=k, iterations=iterations,
        init_books=init_books,
    )
    d0 = r // m
    rqueries = rdf.orderBy("pid").limit(n_queries).select(
        F.col("pid").alias("q_pid"), F.col("rv").alias("qv")
    )
    lt = rqueries.crossJoin(F.broadcast(books)).select(
        "q_pid",
        "s",
        "cid",
        _dist2(
            F.slice(F.col("qv"), F.col("s") * d0 + 1, d0), F.col("c")
        ).alias("lt_d2"),
    )
    est = (
        codes.join(F.broadcast(lt), ["s", "cid"])
        .where(F.col("pid") != F.col("q_pid"))
        .groupBy("q_pid", "pid")
        .agg(F.round(F.sum("lt_d2"), ADC_DP).alias("adc_d2"))
    )
    w = Window.partitionBy("q_pid").orderBy("adc_d2", "pid")
    approx = est.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= topk
    )
    # exact twin in the ORIGINAL space (bounded nq crossJoin)
    full = df.select(
        F.col(id_col).alias("pid"), as_double_array(vec_col).alias("v")
    )
    xqueries = full.orderBy("pid").limit(n_queries).select(
        F.col("pid").alias("q_pid"), F.col("v").alias("qv")
    )
    exact = (
        xqueries.crossJoin(full)
        .where(F.col("pid") != F.col("q_pid"))
        .select(
            "q_pid",
            "pid",
            F.round(_dist2(F.col("qv"), F.col("v")), ADC_DP).alias("x_d2"),
        )
    )
    xw = Window.partitionBy("q_pid").orderBy("x_d2", "pid")
    exact_top = (
        exact.withColumn("xr", F.row_number().over(xw))
        .where(F.col("xr") <= topk)
        .select("q_pid", "pid", F.lit(True).alias("in_exact_topk"))
    )
    return (
        approx.join(exact_top, ["q_pid", "pid"], "left")
        .select(
            "q_pid",
            "rank",
            "pid",
            "adc_d2",
            F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy("q_pid", "rank")
    )


def pq_rotated_sql(
    table: str,
    vec_col: str,
    id_col: str,
    dims: int,
    r: int = 8,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    pca_iterations: int = 6,
    n_queries: int = 3,
    topk: int = 5,
    prefix: str = "rpq",
) -> str:
    """DuckDB CTE twin of :func:`pq_rotated_topk`; yields
    ``{prefix}_topk`` with the same five columns. Composes the certified
    PCA chain (pca_top_components_sql), an id-carrying rotation CTE
    (``{prefix}_rot`` — mirrors pca_project's 6dp ordered folds), and
    pq_adc_sql over the rotated relation with its exact twin pointed at
    the ORIGINAL vectors (``exact_source``)."""
    if r % m:
        raise ValueError(f"r {r} not divisible into {m} subspaces")
    parts = [
        pca_top_components_sql(
            table, vec_col, id_col, dims,
            n_components=r, iterations=pca_iterations,
        ),
        # centered vectors WITH ids (pc_cent drops them), then the
        # projection fold — same ROUND(.., 6) as pca_project
        f"""{prefix}_cent AS (
      SELECT {id_col} AS pid,
             list_transform(range(1, {dims} + 1), kk -> v[kk] - mu[kk]) AS c
      FROM (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS v FROM {table}
            WHERE len({vec_col}) = {dims}),
           pc_mu_arr
    )""",
        f"""{prefix}_pc AS (
      SELECT component, list(loading ORDER BY dim) AS pc
      FROM pca_components GROUP BY component
    )""",
        f"""{prefix}_rot AS MATERIALIZED (
      SELECT pid, list(coord ORDER BY component) AS rv FROM (
        SELECT ce.pid, p.component,
               ROUND(list_dot_product(ce.c, p.pc), 6) AS coord
        FROM {prefix}_cent ce, {prefix}_pc p
      ) GROUP BY pid
    )""",
        pq_adc_sql(
            f"{prefix}_rot", "rv", "pid", r, m=m, k=k,
            iterations=iterations, n_queries=n_queries, topk=topk,
            prefix=prefix,
            exact_source=(
                f"(SELECT {id_col} AS pid, CAST({vec_col} AS DOUBLE[]) AS v"
                f" FROM {table} WHERE len({vec_col}) = {dims})",
                "v",
                "pid",
            ),
        ),
    ]
    return ",\n    ".join(parts)


# --- frozen-index persistence + serving (the r10 save/load story, for
#     the rotated index: train once, rotate-and-query forever) ----------


def _corpus_means(df: DataFrame, vec_col: str, dims: int) -> DataFrame:
    """(i, mu): the 6dp per-dimension corpus means — the SAME rounding
    pca_project uses, materialized so frozen serving can center new
    queries with the TRAINING means (re-deriving means from the query
    batch would silently shift the rotation origin)."""
    v = df.select(as_double_array(vec_col).alias("v")).where(
        F.size("v") == dims
    )
    return (
        v.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.round(F.avg("x"), 6).alias("mu"))
    )


def train_rotated_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    r: int = 8,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    pca_iterations: int = 6,
):
    """Train the full rotated-PQ index → (means, comps, codes, books):
    the four frames :func:`save_rotated_index` persists. codes/books
    are :func:`pq_codes` over the rotated vectors; means/comps are the
    frozen rotation."""
    means = _corpus_means(df, vec_col, dims).localCheckpoint(eager=True)
    comps = pca_top_components(
        df, vec_col, dims, n_components=r, iterations=pca_iterations
    ).localCheckpoint(eager=True)
    rdf = rotate_vectors(
        df, vec_col, id_col, dims, r, comps=comps
    ).select(F.col("id").alias("pid"), "rv")
    codes, books = pq_codes(rdf, "rv", "pid", r, m=m, k=k, iterations=iterations)
    return means, comps, codes, books


def save_rotated_index(
    path: str,
    means: DataFrame,
    comps: DataFrame,
    codes: DataFrame,
    books: DataFrame,
) -> None:
    """Persist the rotated-PQ index as four parquet tables: ``means/``
    (dims rows), ``rotation/`` (r·dims loading rows), ``books/``
    (m·k rows), ``codes/`` (pid, s, cid — the corpus-sized table, the
    only one that grows). All tiny side tables broadcast at serve
    time; the reference comparison is the same as pq.save_index
    (graph.rs:630-695 serializes driver-side JSON; these are
    distributed parquet writes)."""
    means.write.mode("overwrite").parquet(f"{path}/means")
    comps.write.mode("overwrite").parquet(f"{path}/rotation")
    books.write.mode("overwrite").parquet(f"{path}/books")
    codes.write.mode("overwrite").parquet(f"{path}/codes")


def load_rotated_index(spark, path: str):
    """→ (means, comps, codes, books) ready for
    :func:`rotated_query_topk`."""
    return (
        spark.read.parquet(f"{path}/means"),
        spark.read.parquet(f"{path}/rotation"),
        spark.read.parquet(f"{path}/codes"),
        spark.read.parquet(f"{path}/books"),
    )


def rotate_with_frozen(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    means: DataFrame,
    comps: DataFrame,
    dims: int,
) -> DataFrame:
    """Rotate vectors with a FROZEN trained rotation — center with the
    TRAINING means (never the batch's own: re-deriving means from a
    batch would silently shift the rotation origin) and project onto
    the stored components with the same 6dp index-ordered folds as
    training. → DataFrame(id_col, rv array<double>[r]). This is the
    single serving-side rotation definition: rotated_query_topk routes
    queries through it, and the streaming crawl sink (r12) encodes new
    corpus batches with it, so query-side and index-side rotation
    cannot drift."""
    mu = means.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mu"))),
            lambda s: s["mu"],
        ).alias("mu")
    )
    pc = comps.groupBy("component").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "loading"))),
            lambda s: s["loading"],
        ).alias("pc")
    )
    return (
        df.select(F.col(id_col).alias("__id"), as_double_array(vec_col).alias("__v"))
        .where(F.size("__v") == dims)
        .crossJoin(F.broadcast(mu))
        .select(
            "__id", F.zip_with("__v", "mu", lambda a, b: a - b).alias("c")
        )
        .crossJoin(F.broadcast(pc))
        .select(
            "__id",
            "component",
            F.round(_dot(F.col("c"), F.col("pc")), 6).alias("coord"),
        )
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("component", "coord"))),
                lambda s: s["coord"],
            ).alias("rv")
        )
        .select(F.col("__id").alias(id_col), "rv")
    )


def rotated_query_topk(
    queries: DataFrame,
    means: DataFrame,
    comps: DataFrame,
    codes: DataFrame,
    books: DataFrame,
    dims: int,
    r: int,
    m: int,
    topk: int = 5,
) -> DataFrame:
    """Serve ANN queries against a FROZEN rotated-PQ index — the frame
    order matches train_rotated_index/load_rotated_index, so
    ``rotated_query_topk(q, *load_rotated_index(spark, path), ...)``
    is the natural call: center each
    query with the TRAINING means, project onto the stored components
    (the same 6dp index-ordered folds as training), then the flat-PQ
    ADC serving path (pq.pq_query_topk). ``queries`` is
    DataFrame(q_pid, qv in the ORIGINAL space). → (q_pid, rank, pid,
    adc_d2). All rotation state broadcasts; no full corpus vector is
    read."""
    from rippledb_engine.operators.pq import pq_query_topk

    rq = rotate_with_frozen(queries, "qv", "q_pid", means, comps, dims).select(
        "q_pid", F.col("rv").alias("qv")
    )
    return pq_query_topk(rq, books, codes, dims=r, m=m, topk=topk)


# --- full OPQ alternation (r12, VERDICT ask #4): rotation ↔ codebook ----
# Non-parametric OPQ (Ge et al. 2013 §3.1) alternates (a) PQ codebook
# training at fixed rotation with (b) the orthogonal-Procrustes rotation
# update at fixed codebooks: R* = argmax trace(R·M), M = Σ y·x̂ᵀ. The
# textbook solver is an SVD; here the Procrustes step is solved by
# CYCLIC GIVENS coordinate descent instead — for each coordinate pair
# (a, b), the trace-optimal plane rotation has the closed form
# θ = atan2(M[a][b] − M[b][a], M[a][a] + M[b][b]), and a sweep applies
# every pair once via a round-robin schedule of DISJOINT pairs (the
# Jacobi-style iteration for the polar factor; each Givens step is
# trace-non-decreasing, so sweeps converge to the same stationary
# points as the SVD solution). This form keeps the house replayable-
# iterate contract — every cos/sin is a 6dp grid value and the DuckDB
# twin replays the identical sweep — where a cross-engine SVD would
# not. The alternation runs INSIDE the OPQ-lite R-dim subspace: the
# PCA truncation is unchanged, the R×R rotation re-balances variance
# across the m PQ subspaces (the thing -lite cannot do: after PCA the
# leading subspace holds nearly all the energy and the trailing
# codebooks quantize noise).

OPQ_GRID = 1_000_000  # the ×10⁶ BIGINT moment grid (classifier.py's)


def _round_half_away(x: float, dp: int = 6) -> float:
    """DuckDB ROUND semantics (half away from zero) for the driver-side
    sweep — Python's round() is half-even and would disagree at exact
    grid boundaries."""
    import math

    p = 10.0**dp
    return math.copysign(math.floor(abs(x) * p + 0.5), x) / p


def givens_schedule(r: int) -> list[list[tuple[int, int]]]:
    """Round-robin (circle-method) schedule of the r(r−1)/2 coordinate
    pairs: r−1 steps of r/2 DISJOINT pairs — disjoint so each step's
    rotations commute and the SQL twin applies a whole step in one CTE.
    Requires even r (PQ subspace splits already force that)."""
    if r % 2:
        raise ValueError("givens_schedule needs even r")
    rest = list(range(1, r))
    steps = []
    for _ in range(r - 1):
        cur = [0] + rest
        pairs = [
            (min(cur[i], cur[r - 1 - i]), max(cur[i], cur[r - 1 - i]))
            for i in range(r // 2)
        ]
        steps.append(pairs)
        rest = [rest[-1]] + rest[:-1]
    return steps


def polar_sweeps(
    M: list[list[float]], schedule: list[list[tuple[int, int]]], sweeps: int = 1
) -> list[list[float]]:
    """Driver-side Procrustes coordinate descent on the BOUNDED r×r
    moment matrix (the regression.py pattern: collect d² moments, do
    tiny deterministic arithmetic, let the SQL twin replay it): returns
    the accumulated rotation G with every cos/sin 6dp-rounded. Both M
    and G rows rotate in schedule order, so trace(G·M) is non-
    decreasing step by step."""
    import math

    r = len(M)
    M = [row[:] for row in M]
    G = [[1.0 if i == j else 0.0 for j in range(r)] for i in range(r)]
    for _ in range(sweeps):
        for pairs in schedule:
            for a, b in pairs:
                th = math.atan2(M[a][b] - M[b][a], M[a][a] + M[b][b])
                c = _round_half_away(math.cos(th))
                s = _round_half_away(math.sin(th))
                for X in (M, G):
                    ra = [c * X[a][j] - s * X[b][j] for j in range(r)]
                    rb = [s * X[a][j] + c * X[b][j] for j in range(r)]
                    X[a], X[b] = ra, rb
    return G


def _apply_rotation_rows(cur: DataFrame, G: list[list[float]], r: int) -> DataFrame:
    """One broadcast corpus pass applying an r×r rotation to (pid, rv)
    with 6dp index-ordered folds — the SAME arithmetic at train time
    and at frozen-serving time (alternating_query_topk), so query-side
    and index-side coordinates cannot drift."""
    spark = cur.sparkSession
    grows = spark.createDataFrame(
        [(i, G[i]) for i in range(r)], "i int, grow array<double>"
    )
    return (
        cur.crossJoin(F.broadcast(grows))
        .select(
            "pid",
            "i",
            F.round(_dot(F.col("grow"), F.col("rv")), 6).alias("coord"),
        )
        .groupBy("pid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "coord"))),
                lambda s: s["coord"],
            ).alias("rv")
        )
    )


def opq_alternating_rotate(
    rdf: DataFrame,
    r: int,
    m: int = 4,
    k: int = 8,
    pq_iterations: int = 2,
    rounds: int = 2,
    sweeps: int = 1,
    return_state: bool = False,
):
    """Run ``rounds`` full-OPQ alternations over an OPQ-lite rotated
    frame (pid, rv[r]) → the further-rotated frame (pid, rv[r]). Each
    round: certified pq_codes codebooks on the current frame → per-
    vector reconstruction x̂ → ONE ×10⁶-BIGINT moment pass for
    M = Σ y·x̂ᵀ (r² integers collected, the bounded regression.py
    moment shape) → Givens polar sweep(s) → one broadcast corpus pass
    applying G with 6dp index-ordered folds."""
    if r % m:
        raise ValueError(f"r {r} not divisible into {m} subspaces")
    schedule = givens_schedule(r)
    cur = rdf
    rotations: list[list[list[float]]] = []
    prev_books: DataFrame | None = None
    for _ in range(rounds):
        # WARM-started codebooks (r12): round t seeds Lloyd from round
        # t−1's books — with the Procrustes step's guarantee (rotating
        # y cannot increase error vs the FIXED books) this makes the
        # whole alternation monotone in quantization error, where a
        # cold lowest-pid re-init each round could (and at sf0.01 did)
        # land worse than OPQ-lite
        codes, books = pq_codes(
            cur, "rv", "pid", r, m=m, k=k, iterations=pq_iterations,
            init_books=prev_books,
        )
        prev_books = books.localCheckpoint(eager=True)
        xhat = (
            codes.join(books, ["s", "cid"])
            .groupBy("pid")
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("s", "c"))),
                        lambda st: st["c"],
                    )
                ).alias("xh")
            )
        )
        mm = (
            cur.join(xhat, "pid")
            .select(F.posexplode("rv").alias("i", "yi"), "xh")
            .select("i", "yi", F.posexplode("xh").alias("j", "xj"))
            .select(
                "i",
                "j",
                F.round(F.col("yi") * F.col("xj") * OPQ_GRID)
                .cast("bigint")
                .alias("cv"),
            )
            .groupBy("i", "j")
            .agg(F.sum("cv").alias("mm"))
        )
        M = [[0.0] * r for _ in range(r)]
        for row in mm.collect():  # bounded: r² integer moments
            M[row["i"]][row["j"]] = float(row["mm"])
        G = polar_sweeps(M, schedule, sweeps)
        rotations.append(G)
        cur = _apply_rotation_rows(cur, G, r).localCheckpoint(eager=True)
    # release superseded per-round checkpoint blocks (BENCH_r12: leaked
    # trainer garbage drifted LATER session queries 2x; the returned
    # frame/books stay referenced and are untouched)
    _release_iteration_garbage(cur)
    if return_state:
        return cur, rotations, prev_books
    return cur


def opq_alternating_sql(
    table: str,
    vec_col: str,
    id_col: str,
    dims: int,
    r: int = 8,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    pca_iterations: int = 6,
    rounds: int = 2,
    sweeps: int = 1,
    n_queries: int = 3,
    topk: int = 5,
    prefix: str = "opq",
) -> str:
    """DuckDB CTE twin of the full chain: OPQ-lite rotation →
    ``rounds`` alternations (per-subspace k-means chains, x̂ assembly,
    the ×10⁶ moment grid, the unrolled Givens sweep updating M and G
    relation-by-relation, one applied rotation) → final ADC with the
    ORIGINAL-space exact twin. Yields ``{prefix}f_topk``."""
    if r % m:
        raise ValueError(f"r {r} not divisible into {m} subspaces")
    d0 = r // m
    schedule = givens_schedule(r)
    parts = [
        pca_top_components_sql(
            table, vec_col, id_col, dims,
            n_components=r, iterations=pca_iterations,
        ),
        f"""{prefix}_cent AS (
      SELECT {id_col} AS pid,
             list_transform(range(1, {dims} + 1), kk -> v[kk] - mu[kk]) AS c
      FROM (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS v FROM {table}
            WHERE len({vec_col}) = {dims}),
           pc_mu_arr
    )""",
        f"""{prefix}_pc AS (
      SELECT component, list(loading ORDER BY dim) AS pc
      FROM pca_components GROUP BY component
    )""",
        f"""{prefix}_y0 AS MATERIALIZED (
      SELECT pid, list(coord ORDER BY component) AS rv FROM (
        SELECT ce.pid, p.component,
               ROUND(list_dot_product(ce.c, p.pc), 6) AS coord
        FROM {prefix}_cent ce, {prefix}_pc p
      ) GROUP BY pid
    )""",
    ]
    for t in range(1, rounds + 1):
        rp = f"{prefix}r{t}"
        yprev = f"{prefix}_y{t - 1}"
        for s in range(m):
            lo, hi = s * d0 + 1, (s + 1) * d0
            sub = f"(SELECT pid, rv[{lo}:{hi}] AS sub_v FROM {yprev})"
            parts.append(
                kmeans_assignments_sql(
                    sub, "sub_v", "pid", dims=d0, k=k,
                    iterations=iterations, prefix=f"{rp}s{s}",
                    init_rel=(
                        None if t == 1
                        else f"{prefix}r{t - 1}s{s}_c{iterations - 1}"
                    ),
                )
            )
        book_union = " UNION ALL ".join(
            f"SELECT {s} AS s, cid, c FROM {rp}s{s}_c{iterations - 1}"
            for s in range(m)
        )
        code_union = " UNION ALL ".join(
            f"SELECT pid, {s} AS s, cid FROM {rp}s{s}_final"
            for s in range(m)
        )
        parts.append(f"{rp}_books AS ({book_union})")
        parts.append(f"{rp}_codes AS ({code_union})")
        parts.append(
            f"""{rp}_xhat AS (
      SELECT pid, flatten(list(c ORDER BY s)) AS xh FROM (
        SELECT co.pid, co.s, b.c
        FROM {rp}_codes co JOIN {rp}_books b
          ON b.s = co.s AND b.cid = co.cid
      ) GROUP BY pid
    )"""
        )
        parts.append(
            f"""{rp}_m0 AS MATERIALIZED (
      SELECT i, j,
             CAST(SUM(CAST(ROUND(y.rv[CAST(i AS INT) + 1]
                   * x.xh[CAST(j AS INT) + 1] * {OPQ_GRID}) AS BIGINT))
                  AS DOUBLE) AS mm
      FROM {yprev} y JOIN {rp}_xhat x USING (pid),
           UNNEST(range(0, {r})) ui(i), UNNEST(range(0, {r})) uj(j)
      GROUP BY i, j
    )"""
        )
        parts.append(
            f"""{rp}_g0 AS (
      SELECT i, j, CASE WHEN i = j THEN 1.0 ELSE 0.0 END AS g
      FROM UNNEST(range(0, {r})) ui(i), UNNEST(range(0, {r})) uj(j)
    )"""
        )
        u = 0
        for _sw in range(sweeps):
            for pairs in schedule:
                u += 1
                vals = ", ".join(f"({a}, {b})" for a, b in pairs)
                parts.append(
                    f"""{rp}_ang{u} AS (
      SELECT a, b, ROUND(cos(th), 6) AS c, ROUND(sin(th), 6) AS s
      FROM (
        SELECT pr.a, pr.b,
               atan2(
                 (SELECT mm FROM {rp}_m{u - 1} WHERE i = pr.a AND j = pr.b)
                 - (SELECT mm FROM {rp}_m{u - 1} WHERE i = pr.b AND j = pr.a),
                 (SELECT mm FROM {rp}_m{u - 1} WHERE i = pr.a AND j = pr.a)
                 + (SELECT mm FROM {rp}_m{u - 1} WHERE i = pr.b AND j = pr.b)
               ) AS th
        FROM (VALUES {vals}) pr(a, b)
      )
    )"""
                )
                for rel in ("m", "g"):
                    col = "mm" if rel == "m" else "g"
                    parts.append(
                        f"""{rp}_{rel}{u} AS MATERIALIZED (
      SELECT x.i, x.j,
             CASE WHEN aa.a IS NOT NULL
                  THEN aa.c * x.{col} - aa.s * xb.{col}
                  WHEN ab.b IS NOT NULL
                  THEN ab.s * xa.{col} + ab.c * x.{col}
                  ELSE x.{col} END AS {col}
      FROM {rp}_{rel}{u - 1} x
      LEFT JOIN {rp}_ang{u} aa ON aa.a = x.i
      LEFT JOIN {rp}_ang{u} ab ON ab.b = x.i
      LEFT JOIN {rp}_{rel}{u - 1} xb ON aa.a IS NOT NULL
        AND xb.i = aa.b AND xb.j = x.j
      LEFT JOIN {rp}_{rel}{u - 1} xa ON ab.b IS NOT NULL
        AND xa.i = ab.a AND xa.j = x.j
    )"""
                    )
        parts.append(
            f"""{rp}_grows AS (
      SELECT i, list(g ORDER BY j) AS grow FROM {rp}_g{u} GROUP BY i
    )"""
        )
        parts.append(
            f"""{prefix}_y{t} AS MATERIALIZED (
      SELECT pid, list(coord ORDER BY i) AS rv FROM (
        SELECT y.pid, gr.i,
               ROUND(list_dot_product(gr.grow, y.rv), 6) AS coord
        FROM {yprev} y, {rp}_grows gr
      ) GROUP BY pid
    )"""
        )
    parts.append(
        pq_adc_sql(
            f"{prefix}_y{rounds}", "rv", "pid", r, m=m, k=k,
            iterations=iterations, n_queries=n_queries, topk=topk,
            prefix=f"{prefix}f",
            init_rels=[
                f"{prefix}r{rounds}s{s}_c{iterations - 1}"
                for s in range(m)
            ],
            exact_source=(
                f"(SELECT {id_col} AS pid, CAST({vec_col} AS DOUBLE[]) AS v"
                f" FROM {table} WHERE len({vec_col}) = {dims})",
                "v",
                "pid",
            ),
        )
    )
    return ",\n    ".join(parts)


def pq_alternating_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    r: int = 8,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    pca_iterations: int = 6,
    rounds: int = 2,
    sweeps: int = 1,
    n_queries: int = 3,
    topk: int = 5,
) -> DataFrame:
    """Full-OPQ ANN with the original-space recall twin: OPQ-lite
    rotation → ``rounds`` codebook↔rotation alternations →
    DataFrame(q_pid, rank, pid, adc_d2, in_exact_topk) — the same
    output shape as :func:`pq_rotated_topk`, so the recall triple
    (plain / lite / full) is a like-for-like comparison."""
    if r % m:
        raise ValueError(f"r {r} not divisible into {m} subspaces")
    rot = rotate_vectors(df, vec_col, id_col, dims, r, pca_iterations)
    rdf = rot.select(F.col("id").alias("pid"), "rv").localCheckpoint(
        eager=True
    )
    rdf2, _, last_books = opq_alternating_rotate(
        rdf, r, m=m, k=k, pq_iterations=iterations, rounds=rounds,
        sweeps=sweeps, return_state=True,
    )
    return _adc_with_original_exact(
        rdf2, df, vec_col, id_col, r, m, k, iterations, n_queries, topk,
        init_books=last_books,
    )


def pq_distortion_grid(
    frame: DataFrame, r: int, m: int, k: int, iterations: int,
    init_books: DataFrame | None = None,
) -> DataFrame:
    """→ 1-row DataFrame(dist_grid bigint): the corpus quantization
    distortion Σ‖y − x̂‖² on the ×10⁶ BIGINT grid (per-vector squared
    error is a 6dp index-ordered fold, grid-rounded before the sum, so
    both engines fold identical integers). This is the objective the
    OPQ alternation minimizes — the certificate that rides the
    registered row, because top-k recall at certification sample sizes
    (nq·topk flags) is too granular to witness a distortion win."""
    codes, books = pq_codes(
        frame, "rv", "pid", r, m=m, k=k, iterations=iterations,
        init_books=init_books,
    )
    xhat = (
        codes.join(books, ["s", "cid"])
        .groupBy("pid")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "c"))),
                    lambda st: st["c"],
                )
            ).alias("xh")
        )
    )
    err = F.aggregate(
        F.zip_with("rv", "xh", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        frame.join(xhat, "pid")
        .select(F.round(err * OPQ_GRID).cast("bigint").alias("e"))
        .agg(F.sum("e").cast("bigint").alias("dist_grid"))
    )


# --- alternating-index persistence + frozen serving (r12): the full-OPQ
#     counterpart of the rotated-index save/load story -------------------


def train_alternating_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    r: int = 8,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    pca_iterations: int = 6,
    rounds: int = 2,
    sweeps: int = 1,
):
    """Train the full-OPQ index → (means, comps, givens, codes, books):
    the five frames :func:`save_alternating_index` persists. ``givens``
    is the per-round rotation TRAJECTORY as a (round, i, grow) frame —
    frozen serving must replay round-by-round (each round's output was
    6dp-rounded before the next rotation, so folding the rounds into
    one matrix would change the grid points and drift from the stored
    codes)."""
    means = _corpus_means(df, vec_col, dims).localCheckpoint(eager=True)
    comps = pca_top_components(
        df, vec_col, dims, n_components=r, iterations=pca_iterations
    ).localCheckpoint(eager=True)
    rdf = rotate_vectors(
        df, vec_col, id_col, dims, r, comps=comps
    ).select(F.col("id").alias("pid"), "rv").localCheckpoint(eager=True)
    final, rotations, last_books = opq_alternating_rotate(
        rdf, r, m=m, k=k, pq_iterations=iterations, rounds=rounds,
        sweeps=sweeps, return_state=True,
    )
    spark = df.sparkSession
    givens = spark.createDataFrame(
        [
            (t, i, G[i])
            for t, G in enumerate(rotations)
            for i in range(r)
        ],
        "round int, i int, grow array<double>",
    )
    codes, books = pq_codes(
        final, "rv", "pid", r, m=m, k=k, iterations=iterations,
        init_books=last_books,
    )
    return means, comps, givens, codes, books


def save_alternating_index(
    path: str,
    means: DataFrame,
    comps: DataFrame,
    givens: DataFrame,
    codes: DataFrame,
    books: DataFrame,
) -> None:
    """Persist the alternating index: the rotated-index layout plus
    ``givens/`` (rounds·r rows — the frozen rotation trajectory)."""
    save_rotated_index(path, means, comps, codes, books)
    givens.write.mode("overwrite").parquet(f"{path}/givens")


def load_alternating_index(spark, path: str):
    """→ (means, comps, givens, codes, books) ready for
    :func:`alternating_query_topk`."""
    means, comps, codes, books = load_rotated_index(spark, path)
    return means, comps, spark.read.parquet(f"{path}/givens"), codes, books


def apply_frozen_rotations(rdf: DataFrame, givens: DataFrame, r: int) -> DataFrame:
    """Replay a stored rotation trajectory over (pid, rv) — rounds in
    ascending order, each a broadcast r-row pass with the training-time
    6dp folds. The collect is bounded: rounds·r rows of r doubles."""
    rows = givens.collect()
    rounds: dict[int, list] = {}
    for row in rows:
        rounds.setdefault(row["round"], [None] * r)[row["i"]] = list(row["grow"])
    cur = rdf
    for t in sorted(rounds):
        cur = _apply_rotation_rows(cur, rounds[t], r)
    return cur


def alternating_query_topk(
    queries: DataFrame,
    means: DataFrame,
    comps: DataFrame,
    givens: DataFrame,
    codes: DataFrame,
    books: DataFrame,
    dims: int,
    r: int,
    m: int,
    topk: int = 5,
) -> DataFrame:
    """Serve ANN queries against a FROZEN alternating index: center
    with the TRAINING means, project onto the stored components, replay
    the stored Givens trajectory round-by-round, then the flat-PQ ADC
    serving path. ``queries`` is DataFrame(q_pid, qv in the ORIGINAL
    space); → (q_pid, rank, pid, adc_d2). The frame order matches
    train/load_alternating_index, so
    ``alternating_query_topk(q, *load_alternating_index(spark, path),
    ...)`` is the natural call."""
    from rippledb_engine.operators.pq import pq_query_topk

    rq = rotate_with_frozen(queries, "qv", "q_pid", means, comps, dims).select(
        F.col("q_pid").alias("pid"), "rv"
    )
    rq = apply_frozen_rotations(rq, givens, r).select(
        F.col("pid").alias("q_pid"), F.col("rv").alias("qv")
    )
    return pq_query_topk(rq, books, codes, dims=r, m=m, topk=topk)
