"""Distributed PCA — top principal component by power iteration
(Golub & Van Loan, "Matrix Computations" §7.3; the classic dominant-
eigenpair method) over an embedding column: the whitening / compression
/ drift-monitoring primitive embedding pipelines run before indexing.

Method: one pass computes the d-vector of dimension means and the d×d
covariance matrix (both 6dp-rounded — the Lloyd trick: rounding each
materialized intermediate resets cross-engine float drift, exactly like
clustering.py's centroid means); then a FIXED number of power-iteration
rounds v ← round(C·v / ‖C·v‖, 6dp) from the deterministic uniform start
1/√d. The sign is fixed deterministically (the component with the
largest |loading| — first index on ties — is made positive), so the
DuckDB twin replays means, covariances, every iterate, the Rayleigh
eigenvalue, and the residual bit-for-bit.

Self-verification: the output carries ‖C·v − λ·v‖ (the eigenpair
residual) — a reader needs no trust in the iteration count, the row
certifies its own convergence quality, and pytest pins it small on
corpora with a real spectral gap.

Scale shape: the one corpus-sized job is the covariance pass — the
standard O(n·d²) PCA cost (each row emits its centered outer product;
one (i, j)-keyed avg, map-side combinable, d² = dims² keys). Everything
after runs on d-row / 1-row frames: each iteration is one broadcast of
the current d-vector against the d-row matrix frame and two bounded
folds — per-round cost is O(d²) TOTAL, independent of the corpus.
Determinism of every dot product comes from ordered-array folds
(aggregate(zip_with(...)) over index-sorted arrays ≡ DuckDB
list_dot_product — the _dist2 contract).

Reference comparison: n/a (no numeric surface in the reference;
/root/reference/src/datastore/graph.rs is triple-pattern access only).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_engine.functions.vector import as_double_array
from rippledb_engine.operators._itergc import (
    iteration_conf as _iteration_conf,
    persistent_rdd_ids as _persistent_rdd_ids,
    unpersist_rdd_ids as _unpersist_rdd_ids,
)

PCA_DP = 6

# Driver-side power iteration applies when the covariance side is at most
# this many dims: the collect is d² cells (512² = 262,144 rows of three
# scalars ≈ a few MB — bounded by the DECOMPOSITION's width, not the
# corpus, so the bound holds at any corpus scale). Wider matrices keep
# the distributed per-round loop.
PCA_DRIVER_MAX_DIMS = 512


def _round6_py(x: float) -> float:
    """Bit-parity twin of the JVM's ``F.round(col, 6)`` on DOUBLE.

    Spark's Round(double, s) evaluates
    ``BigDecimal.valueOf(x).setScale(s, HALF_UP).toDouble`` —
    BigDecimal.valueOf goes through Double.toString's shortest
    round-trip decimal form. Python's ``repr(float)`` is likewise the
    shortest round-trip decimal. Two round-trip decimal strings of the
    SAME double can only quantize differently at 6dp if a 6dp half-up
    boundary falls strictly inside the double's 1-ulp round-trip
    interval, which needs ulp(x) ≳ 1e-7, i.e. |x| ≳ 4.5e8 — far above
    any covariance/eigen value this module produces (unit-scale
    embeddings). decimal.ROUND_HALF_UP matches java HALF_UP (both round
    half away from zero). NaN/±Inf pass through, as in the JVM
    expression. test_pca.py pins this against F.round on the real
    iterate trajectory plus boundary values.
    """
    if x != x or x in (float("inf"), float("-inf")):
        return x
    return float(
        Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    )


def _fold_dot_py(a: list[float], b: list[float]) -> float:
    """Python twin of :func:`_dot`: the same left fold in index order —
    ((0.0 + a0·b0) + a1·b1) + … — so every IEEE add/mul happens in the
    identical sequence and the result is bit-identical to the JVM's."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _dot(a, b):
    """Index-ordered fold dot product — the fixed-order sum both engines
    share (≡ DuckDB list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def covariance_matrix(df: DataFrame, vec_col: str, dims: int) -> DataFrame:
    """→ DataFrame(i, j, cij): the 6dp-rounded covariance matrix (biased
    /n form — the estimator choice is irrelevant to the eigenvectors).
    One corpus pass: center against the broadcast 6dp-rounded means,
    explode the outer product, one (i, j)-keyed avg."""
    v = df.select(as_double_array(vec_col).alias("v")).where(
        F.size("v") == dims
    )
    mu = (
        v.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.round(F.avg("x"), PCA_DP).alias("mu"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mu"))),
                lambda s: s["mu"],
            ).alias("mu")
        )
    )
    centered = v.crossJoin(F.broadcast(mu)).select(
        F.zip_with("v", "mu", lambda a, b: a - b).alias("c")
    )
    return (
        centered.select(F.posexplode("c").alias("i", "xi"), F.col("c"))
        .select("i", "xi", F.posexplode("c").alias("j", "xj"))
        .groupBy("i", "j")
        .agg(F.round(F.avg(F.col("xi") * F.col("xj")), PCA_DP).alias("cij"))
    )


def _eigen_certificate(spark, v: list[float], w: list[float]) -> DataFrame:
    """Assemble the 1-row (loadings, eigenvalue, residual) frame from the
    final iterate ``v`` and ``w = C·v`` as JVM expressions over literal
    arrays. Shared verbatim by the driver-side and distributed iteration
    paths, so the sign-fix / Rayleigh / residual arithmetic is ONE code
    path regardless of where the iterates were computed."""
    vlit = F.array(*[F.lit(x) for x in v])
    both = spark.range(1).select(
        vlit.alias("v"), F.array(*[F.lit(x) for x in w]).alias("w")
    )
    absv = F.transform("v", lambda x: F.abs(x))
    sgn = F.signum(
        F.element_at(F.col("v"), F.array_position(absv, F.array_max(absv)).cast("int"))
    )
    lam = _dot(F.col("v"), F.col("w")) / _dot(F.col("v"), F.col("v"))
    resid = F.sqrt(
        F.aggregate(
            F.zip_with("w", "v", lambda wi, vi: (wi - lam * vi) * (wi - lam * vi)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return both.select(
        F.transform("v", lambda x: F.round(sgn * x, PCA_DP)).alias("loadings"),
        F.round(lam, PCA_DP).alias("eigenvalue"),
        F.round(resid, PCA_DP).alias("residual"),
    )


def _collect_dense_matrix(cov: DataFrame, dims: int) -> list[list[float]] | None:
    """Collect the (i, j, cij) frame as a dense dims×dims row-major
    matrix, or None when the frame is not exactly dense (missing /
    duplicate / null cells, out-of-range indices) — those shapes keep
    the distributed path so its null/ragged semantics are preserved."""
    cells = cov.select("i", "j", "cij").collect()
    if len(cells) != dims * dims:
        return None
    mat: list[list] = [[None] * dims for _ in range(dims)]
    for r in cells:
        i, j, c = r[0], r[1], r[2]
        if (
            not isinstance(i, int)
            or not isinstance(j, int)
            or not (0 <= i < dims)
            or not (0 <= j < dims)
            or not isinstance(c, float)
            or mat[i][j] is not None
        ):
            return None
        mat[i][j] = c
    return mat


def power_iteration_top(
    cov: DataFrame, dims: int, iterations: int = 8
) -> DataFrame:
    """→ 1-row DataFrame(loadings array<double>, eigenvalue, residual):
    the dominant eigenpair of the (i, j, cij) covariance frame after
    ``iterations`` rounds of 6dp-rounded power iteration from the
    uniform start, sign-fixed (largest-|loading| component positive,
    first index on ties). ``residual`` = 6dp-rounded ‖C·v − λ·v‖ — the
    self-verifying convergence certificate.

    r15 (guide §2.4 "remove shuffles outright", §5 "the driver should do
    almost no data work"): when the matrix fits the d ≤
    PCA_DRIVER_MAX_DIMS bound, the whole iteration runs DRIVER-SIDE over
    the collected d² cells — the matrix is O(d²) decomposition state,
    not corpus data, and each round of the former distributed loop was
    one scheduler round-trip to move it. One collect replaces
    ``iterations + 1`` jobs. Bit-parity with the JVM loop: the fold dot
    replays the identical IEEE op sequence (_fold_dot_py), sqrt/division
    are correctly-rounded IEEE either way, and the per-round 6dp
    rounding goes through _round6_py (= BigDecimal HALF_UP semantics);
    the certificate tail is the SAME JVM expression tree both ways
    (_eigen_certificate). test_pca.py pins driver == distributed on
    real corpora."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    spark = cov.sparkSession
    if dims <= PCA_DRIVER_MAX_DIMS:
        mat = _collect_dense_matrix(cov, dims)
        if mat is not None:
            v0 = round(1.0 / dims**0.5, PCA_DP)
            v = [v0] * dims
            for _ in range(iterations):
                w = [_fold_dot_py(row, v) for row in mat]
                nrm = math.sqrt(_fold_dot_py(w, w))
                v = [_round6_py(wi / nrm) for wi in w]
            w = [_fold_dot_py(row, v) for row in mat]
            return _eigen_certificate(spark, v, w)
    base_ids = _persistent_rdd_ids(spark)
    rows = (
        cov.groupBy("i")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cij"))),
                lambda s: s["cij"],
            ).alias("row")
        )
        .localCheckpoint(eager=True)
    )
    v0 = round(1.0 / dims**0.5, PCA_DP)
    # r15 (guide §2.4/§5): the iterate is d doubles — driver-held,
    # embedded as literals each round. The r14 loop paid, per round, a
    # BroadcastExchange of the 1-row iterate, a 1-row shuffle
    # (groupBy().collect_list) and an eager localCheckpoint job; now one
    # round is ONE job over the d-row matrix checkpoint — C·v and the
    # round(x/‖·‖) normalization in the SAME plan — with the d new
    # components collected (bounded driver traffic, the BPE precedent).
    # Every float op still evaluates in the JVM with the identical
    # expression tree, so iterates stay bit-identical to the r14 path.
    v = [v0] * dims

    def matvec_vals(vlit):
        return (
            rows.select("i", _dot(F.col("row"), vlit).alias("w"))
            .groupBy()
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "w"))),
                    lambda s: s["w"],
                ).alias("w")
            )
            .select(
                F.transform(
                    "w",
                    lambda x: F.round(
                        x / F.sqrt(_dot(F.col("w"), F.col("w"))), PCA_DP
                    ),
                ).alias("v"),
                "w",
            )
            .collect()[0]
        )

    # iteration_conf (r15): AQE's per-round stage jobs are pure
    # overhead for the fixed-shape d-row matvec (see classifier.py)
    with _iteration_conf(spark, dims):
        for _ in range(iterations):
            v = list(matvec_vals(F.array(*[F.lit(x) for x in v]))["v"])
        # sign fix + Rayleigh + residual off the FINAL iterate — C·v
        # once more, then the certificate expressions over literal
        # (v, w): no lineage back to `rows`, so the matrix checkpoint is
        # freed deterministically below (replacing the GC release)
        wvals = list(matvec_vals(F.array(*[F.lit(x) for x in v]))["w"])
    _unpersist_rdd_ids(spark, _persistent_rdd_ids(spark) - base_ids)
    return _eigen_certificate(spark, v, wvals)


def pca_top_component(
    df: DataFrame, vec_col: str, dims: int, iterations: int = 8
) -> DataFrame:
    """→ DataFrame(dim, mean, loading, eigenvalue, residual), one row
    per dimension: the corpus' per-dimension mean, the dominant
    principal component's loading, and (repeated — constants of the
    decomposition) the top eigenvalue and the eigenpair residual."""
    cov = covariance_matrix(df, vec_col, dims)
    top = power_iteration_top(cov, dims, iterations=iterations)
    v = df.select(as_double_array(vec_col).alias("v")).where(
        F.size("v") == dims
    )
    mu = (
        v.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.round(F.avg("x"), PCA_DP).alias("mean"))
    )
    return (
        mu.crossJoin(F.broadcast(top))
        .select(
            F.col("i").alias("dim"),
            "mean",
            F.element_at(F.col("loadings"), (F.col("i") + 1).cast("int")).alias(
                "loading"
            ),
            "eigenvalue",
            "residual",
        )
    )


def pca_top_components(
    df: DataFrame,
    vec_col: str,
    dims: int,
    n_components: int = 2,
    iterations: int = 8,
) -> DataFrame:
    """Top-K principal components by DEFLATION (Hotelling): after each
    dominant eigenpair, C ← round(C − λ·v·vᵀ, 6dp) removes that
    component's variance and power iteration repeats on the deflated
    matrix — the standard sequential-eigenpair method, with every
    deflated matrix rounded so the DuckDB twin replays the whole
    sequence. → DataFrame(component, dim, loading, eigenvalue,
    residual), components numbered 0.. in decreasing eigenvalue.

    Scale shape: deflation runs entirely on the d²-row covariance frame
    — after the one corpus pass, adding components costs O(d²) per
    round, nothing corpus-sized."""
    if n_components < 1 or n_components > dims:
        raise ValueError("need 1 <= n_components <= dims")
    # EAGER checkpoints throughout: the corpus-sized covariance pass must
    # run exactly once (not once per component per consumer), and the
    # deflated matrices are d² rows — trivial to materialize
    cov = covariance_matrix(df, vec_col, dims).localCheckpoint(eager=True)
    outs = []
    for c in range(n_components):
        top = power_iteration_top(cov, dims, iterations=iterations)
        outs.append(top.select(F.lit(c).alias("component"), "*"))
        if c + 1 < n_components:
            cov = (
                cov.crossJoin(F.broadcast(top))
                .select(
                    "i",
                    "j",
                    F.round(
                        F.col("cij")
                        - F.col("eigenvalue")
                        * F.element_at("loadings", (F.col("i") + 1).cast("int"))
                        * F.element_at("loadings", (F.col("j") + 1).cast("int")),
                        PCA_DP,
                    ).alias("cij"),
                )
                .localCheckpoint(eager=True)
            )
    all_tops = outs[0]
    for t in outs[1:]:
        all_tops = all_tops.unionByName(t)
    return all_tops.select(
        "component",
        F.posexplode("loadings").alias("dim", "loading"),
        "eigenvalue",
        "residual",
    )


def pca_project(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    components: DataFrame,
    dims: int,
) -> DataFrame:
    """Project every vector onto the given components (the compression /
    whitening transform): ``components`` is pca_top_components' output.
    → DataFrame(id, component, coord), coord = (v − μ)·loading with the
    same 6dp-rounded means as training and an index-ordered fold dot.
    One broadcast of the K loading vectors; one corpus projection pass —
    no shuffle beyond the means aggregate."""
    v = df.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")
    ).where(F.size("v") == dims)
    mu = (
        v.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.round(F.avg("x"), PCA_DP).alias("mu"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mu"))),
                lambda s: s["mu"],
            ).alias("mu")
        )
    )
    comp = components.groupBy("component").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "loading"))),
            lambda s: s["loading"],
        ).alias("pc")
    )
    return (
        v.crossJoin(F.broadcast(mu))
        .select("id", F.zip_with("v", "mu", lambda a, b: a - b).alias("c"))
        .crossJoin(F.broadcast(comp))
        .select(
            "id",
            "component",
            F.round(_dot(F.col("c"), F.col("pc")), PCA_DP).alias("coord"),
        )
    )


def _power_sql(
    prefix: str, rows_rel: str, dims: int, iterations: int
) -> list[str]:
    """CTE parts for one power-iteration run over ``rows_rel`` (an
    (i, row) matrix relation): [{prefix}_it0, …, {prefix}_final] with
    {prefix}_final = (loadings, eigenvalue, residual)."""
    v0 = round(1.0 / dims**0.5, PCA_DP)
    parts = [
        f"""{prefix}_it0 AS MATERIALIZED (
      SELECT list_transform(range(0, {dims}), k -> {v0}) AS v
    )"""
    ]
    for r in range(1, iterations + 1):
        parts.append(
            f"""{prefix}_w{r} AS MATERIALIZED (
      SELECT list(w ORDER BY i) AS w FROM (
        SELECT i, list_dot_product(row, v) AS w FROM {rows_rel}, {prefix}_it{r - 1}
      )
    )"""
        )
        parts.append(
            f"""{prefix}_it{r} AS MATERIALIZED (
      SELECT list_transform(w, x ->
        ROUND(x / sqrt(list_dot_product(w, w)), {PCA_DP})) AS v
      FROM {prefix}_w{r}
    )"""
        )
    last = f"{prefix}_it{iterations}"
    parts.append(
        f"""{prefix}_wf AS MATERIALIZED (
      SELECT list(w ORDER BY i) AS w FROM (
        SELECT i, list_dot_product(row, v) AS w FROM {rows_rel}, {last}
      )
    )"""
    )
    parts.append(
        f"""{prefix}_final AS (
      SELECT
        list_transform(v, x -> ROUND(s * x, {PCA_DP})) AS loadings,
        ROUND(lam, {PCA_DP}) AS eigenvalue,
        ROUND(sqrt(list_dot_product(
          list_transform(range(1, {dims} + 1), k -> w[k] - lam * v[k]),
          list_transform(range(1, {dims} + 1), k -> w[k] - lam * v[k])
        )), {PCA_DP}) AS residual
      FROM (
        SELECT v, w,
               list_dot_product(v, w) / list_dot_product(v, v) AS lam,
               sign(v[list_position(list_transform(v, x -> abs(x)),
                                    list_max(list_transform(v, x -> abs(x))))])
                 AS s
        FROM {last}, {prefix}_wf
      )
    )"""
    )
    return parts


def _pca_base_sql(table: str, vec_col: str, dims: int) -> list[str]:
    """Shared means/centering/covariance CTE parts (pc_v, pc_mu,
    pc_mu_arr, pc_cent, pc_cov, pc_rows)."""
    return [
        f"""pc_v AS MATERIALIZED (
      SELECT CAST({vec_col} AS DOUBLE[]) AS v FROM {table}
      WHERE len({vec_col}) = {dims}
    )""",
        f"""pc_mu AS MATERIALIZED (
      SELECT i, ROUND(AVG(v[i + 1]), {PCA_DP}) AS mu
      FROM pc_v, UNNEST(range(0, {dims})) AS u(i)
      GROUP BY i
    )""",
        """pc_mu_arr AS MATERIALIZED (
      SELECT list(mu ORDER BY i) AS mu FROM pc_mu
    )""",
        f"""pc_cent AS MATERIALIZED (
      SELECT list_transform(range(1, {dims} + 1), k -> v[k] - mu[k]) AS c
      FROM pc_v, pc_mu_arr
    )""",
        f"""pc_cov AS MATERIALIZED (
      SELECT i, j, ROUND(AVG(c[i + 1] * c[j + 1]), {PCA_DP}) AS cij
      FROM pc_cent,
           UNNEST(range(0, {dims})) AS ui(i),
           UNNEST(range(0, {dims})) AS uj(j)
      GROUP BY i, j
    )""",
        """pc_rows AS MATERIALIZED (
      SELECT i, list(cij ORDER BY j) AS row FROM pc_cov GROUP BY i
    )""",
    ]


def pca_top_components_sql(
    table: str,
    vec_col: str,
    id_col: str,
    dims: int,
    n_components: int = 2,
    iterations: int = 8,
) -> str:
    """DuckDB CTE twin of :func:`pca_top_components`; yields
    ``pca_components`` (component, dim, loading, eigenvalue, residual)
    and ``pca_projvar`` (component, eigenvalue, coord_variance — the
    corpus variance along each component, RAW doubles for the gate's
    1e-9 relative tolerance). Deflated matrices round to 6dp between
    components, like the Spark side."""
    if n_components < 1 or n_components > dims:
        raise ValueError("need 1 <= n_components <= dims")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    parts = _pca_base_sql(table, vec_col, dims)
    parts.append("pcc0_cov AS MATERIALIZED (SELECT i, j, cij FROM pc_cov)")
    for c in range(n_components):
        parts.append(
            f"""pcc{c}_rows AS MATERIALIZED (
      SELECT i, list(cij ORDER BY j) AS row FROM pcc{c}_cov GROUP BY i
    )"""
        )
        parts.extend(_power_sql(f"pcc{c}", f"pcc{c}_rows", dims, iterations))
        if c + 1 < n_components:
            parts.append(
                f"""pcc{c + 1}_cov AS MATERIALIZED (
      SELECT i, j,
             ROUND(cij - f.eigenvalue * f.loadings[i + 1]
                   * f.loadings[j + 1], {PCA_DP}) AS cij
      FROM pcc{c}_cov, pcc{c}_final f
    )"""
            )
    union = "\n      UNION ALL\n      ".join(
        f"SELECT {c} AS component, loadings, eigenvalue, residual"
        f" FROM pcc{c}_final"
        for c in range(n_components)
    )
    parts.append(f"""pcl AS (
      {union}
    )""")
    parts.append(
        f"""pca_components AS (
      SELECT l.component, u.k AS dim, l.loadings[u.k + 1] AS loading,
             l.eigenvalue, l.residual
      FROM pcl l, UNNEST(range(0, {dims})) AS u(k)
    )"""
    )
    parts.append(
        f"""pca_proj AS (
      SELECT l.component, l.eigenvalue,
             ROUND(list_dot_product(ce.c, l.loadings), {PCA_DP}) AS coord
      FROM pc_cent ce, pcl l
    )"""
    )
    parts.append(
        """pca_projvar AS (
      SELECT component, MIN(eigenvalue) AS eigenvalue,
             AVG(coord * coord) - AVG(coord) * AVG(coord) AS coord_variance
      FROM pca_proj GROUP BY component
    )"""
    )
    return ",\n    ".join(parts)


def pca_top_component_sql(
    table: str, vec_col: str, id_col: str, dims: int, iterations: int = 8
) -> str:
    """DuckDB CTE twin of :func:`pca_top_component`; yields ``pca_top``
    with the same five columns. Means, covariances, every 6dp-rounded
    iterate, the sign fix, Rayleigh quotient, and residual replay the
    Spark arithmetic exactly (ordered list_dot_product folds ≡ the
    aggregate(zip_with) folds — the _dist2 contract)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    parts = _pca_base_sql(table, vec_col, dims)
    parts.extend(_power_sql("pc", "pc_rows", dims, iterations))
    parts.append(
        f"""pca_top AS (
      SELECT m.i AS dim, m.mu AS mean, f.loadings[m.i + 1] AS loading,
             f.eigenvalue, f.residual
      FROM pc_mu m, pc_final f
    )"""
    )
    return ",\n    ".join(parts)
